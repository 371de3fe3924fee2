"""Event-time analytics over ``events`` — batch windowed aggregation
(the SQL-checkable proxy, SURVEY.md §2.2 "streaming") plus a real
Structured Streaming variant in :mod:`..streaming.windows`.

All double aggregations go through DECIMAL so engine and oracle agree
bit-for-bit regardless of accumulation order — mandatory at 1000
executors where accumulation order is nondeterministic.

Every per-value decimal cast is a ``try_cast`` (round-9 hostile-fixture
sweep): under ANSI mode a single metric value beyond the DECIMAL(18,6)
domain (|v| >= 1e12) crashed the whole job with
NUMERIC_VALUE_OUT_OF_RANGE — at 100 TB one corrupt meter reading must
not kill a pipeline. try_cast yields NULL on overflow in Spark AND
DuckDB (verified identical), so out-of-domain values are excluded from
the exact-decimal stats in both engines — sums AND the mean/stddev
denominators, which count the cast column so n matches the summed
domain (ADVICE r9 closed the sum-excluded/count-included bias in
event_window / resample_ffill / anomaly_zscore). A documented domain
bound, not a silent divergence. (Widening to DECIMAL(38,6) was rejected:
product terms like SUM(v*v) would exceed precision 38 and the two
engines clamp overflowing decimal products differently.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


def _dd_q4(x: str) -> str:
    """Shared-arithmetic 4-dp quantizer: floor(x·1e4 + 0.5)/1e4 with
    every literal pinned ``::DOUBLE`` — bit-identical to the Spark
    side by construction. Builtin round() is NOT usable here: DuckDB's
    multiply-round-divide drifts an ulp at 1e11+ magnitudes where
    Spark's BigDecimal round is exact (round-10 hostile find), and
    DuckDB's double→DECIMAL cast has the same drift. Half-way values
    round toward +∞ (a deterministic, documented choice); −0.0
    normalizes to +0.0 for free (floor(0.5)/1e4 = 0.0). Defined up
    here (module helpers precede the first consumer) — the oracle
    f-strings evaluate at decoration time, top-down."""
    return f"floor(({x}) * 10000.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE"


@query(
    "event_window",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(TRY_CAST(value AS DECIMAL(18,6))) AS av
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (batch form): hourly counts +
    mean value per event type. One shuffle on (event_type, hour).

    ``av``'s denominator counts the CAST column (ADVICE r9): a value
    outside the exact-DECIMAL domain is excluded from the sum by
    try_cast, so counting it in n would bias the mean low. ``cnt``
    deliberately stays COUNT(*) — it reports window traffic, not the
    measurement sample size."""
    ev = table(spark, sf_dir, "events")
    d = F.col("value").try_cast("decimal(18,6)")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").alias("cnt"),
            (F.sum(d).cast("double") / F.count(d)).alias("av"),
        )
        .orderBy("event_type", "h")
    )


@query(
    "event_session",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def event_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + gap counting —
    the batch form of session_window. One shuffle on user_id; gaps are
    compared in integral microseconds so both engines agree exactly.

    BALANCED-KEYS VARIANT: the production default at scale is
    ``event_session_salted`` (same oracle, ≈zero premium, 12.9× on a
    1000×-whale) — see SCALING.md "Salted forms are the production
    default". This form serializes on a whale user key.

    NULL-ts rows are dropped on BOTH sides (round-9 hostile sweep —
    the session_window_native contract): a timestampless event cannot
    be placed in any session, and unfiltered it sat at the partition
    HEAD under Spark's NULLS FIRST but the TAIL under DuckDB's
    NULLS LAST, flipping which row opens a session for that user."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Testdata parquet stores ts as timestamp-without-timezone, which
    # Spark 4 reads as TIMESTAMP_NTZ; unix_micros requires TIMESTAMP.
    # Session TZ is pinned to UTC (session.py), so the cast is exact.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    g = ev.select(
        "user_id",
        "event_id",
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0).alias("new_session"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "scalar_json",
    # json_valid guard (round-9 hostile sweep): Spark's get_json_object
    # answers NULL on malformed/empty JSON while DuckDB's json_extract
    # RAISES — the guard pins both engines to NULL-on-malformed.
    # Integer-literal regex gate (round-10 review): a bare TRY_CAST of
    # the extracted text still DIVERGES on fractional/scientific forms
    # — Spark try_cast('1.5' AS BIGINT) is NULL while DuckDB coerces
    # '1.5'→2 and '1e3'→1000 — so only \A-?[0-9]+\z text casts at all
    # (same class both regex engines; try_cast stays for overflow)
    oracle=r"""
    SELECT event_id,
           TRY_CAST(CASE WHEN json_valid(props) THEN
                      CASE WHEN regexp_matches(
                                  json_extract_string(props, '$.k'),
                                  '\A-?[0-9]+\z')
                           THEN json_extract_string(props, '$.k') END
                    END AS BIGINT) AS k
    FROM events ORDER BY event_id
    """,
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the semi-structured props column — scan-side
    expression, no shuffle. Malformed/empty payloads answer NULL (the
    get_json_object contract), mirrored by the oracle's json_valid
    guard; a k that exists but isn't an INTEGER LITERAL answers NULL
    too — gated by an explicit \\A-?[0-9]+\\z regex on both sides (\\A/\\z, not
    ^/$: Java's $ matches BEFORE a trailing line terminator while
    RE2's does not — round-10 review), because
    the engines' string→bigint coercions disagree off that class
    (Spark NULLs '1.5'; DuckDB rounds it to 2 — round-10 review), and
    the residual try_cast handles out-of-int64-range digit strings per
    the poison-row rule."""
    ev = table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        F.when(k_str.rlike(r"\A-?[0-9]+\z"), k_str)
        .try_cast("bigint")
        .alias("k"),
    )


@query(
    "streaming_window",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming: readStream over the events parquet,
    1-hour tumbling window aggregation, complete-mode memory sink, driven
    to completion synchronously. The returned DataFrame is the final
    result table — and it matches the batch oracle exactly, demonstrating
    the batch/streaming unification Spark gives (the reference is
    batch-only, SURVEY.md §2.2)."""
    from ..streaming.windows import run_windowed_count

    return run_windowed_count(spark, f"{sf_dir}/events.parquet")


@query(
    "asof_last_signup",
    oracle="""
    SELECT event_id,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
    FROM events ORDER BY event_id
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one — SURVEY.md guide 'common
    OLAP patterns'): for every event, the most recent signup at-or-before
    it by the same user, via last_value IGNORE NULLS over an ordered
    window. One shuffle on user_id; no row multiplication — the shape
    that replaces a range-join at scale when the 'right side' can ride
    the same partition. The oracle pins ``ts NULLS FIRST`` — Spark's
    ASC window default — so a NULL-ts event sits at the partition head
    and answers NULL in both engines (a NULL-ts signup's marker is
    NULL either way, skipped by IGNORE NULLS)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = table(spark, sf_dir, "events")
    marker = F.when(F.col("event_type") == "signup", F.col("ts"))
    return ev.select(
        "event_id",
        F.last(marker, ignorenulls=True).over(w).alias("last_signup"),
    )


@query("streaming_stateful")  # rows-only: arbitrary stateful op, no SQL twin
def streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    a running per-event-type counter (the minimal arbitrary-state
    topology — swap the update function for sessionization, CEP, etc.).
    State is a single long per key; update mode emits the running value
    each micro-batch. Driven to completion on the fixture batch; on a
    cluster this runs unbounded with the same code."""
    from ..streaming.stateful import running_counts

    return running_counts(spark, f"{sf_dir}/events.parquet")


@query(
    "range_join_follow",
    oracle="""
    SELECT a.event_id AS signup_id, b.event_id AS follow_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'signup'
     AND b.ts > a.ts
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
    ORDER BY signup_id, follow_id
    """,
)
def range_join_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (Spark has no native one — SURVEY.md guide 'as-of /
    range join'): events within 10 minutes after each signup by the same
    user.

    The naive plan is an inequality join — at scale that degenerates to
    per-user cross products. Bucketize instead: each side joins on
    (user_id, 10-minute bucket), with each signup probing its own and the
    next bucket; the exact time predicate filters after the equi-join.
    Join fan-out is bounded by bucket occupancy, not by events-per-user²,
    and the equi-join keys shuffle-partition uniformly. The oracle is the
    naive inequality join — results are identical, only the plan differs.

    No dedup after the join (round-8 review removed a dead .distinct()
    that re-shuffled every matched pair): a signup's two probe buckets
    are distinct values and each follow row carries exactly one bucket,
    so a (signup_id, follow_id) pair can match at most one probe row by
    construction.
    """
    bucket_us = 600_000_000  # == the range width → probe exactly 2 buckets
    ev = table(spark, sf_dir, "events")
    # Testdata parquet stores ts as timestamp-without-timezone, which
    # Spark 4 reads as TIMESTAMP_NTZ; unix_micros requires TIMESTAMP.
    # Session TZ is pinned to UTC (session.py), so the cast is exact.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("u"),
        us.alias("a_us"),
        (us / bucket_us).cast("long").alias("bkt"),
    )
    probes = signups.withColumn("probe_bkt", F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)))
    follows = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("u"),
        us.alias("b_us"),
        (us / bucket_us).cast("long").alias("probe_bkt"),
    )
    return (
        probes.join(follows, ["u", "probe_bkt"])
        .filter(
            (F.col("b_us") > F.col("a_us"))
            & (F.col("b_us") - F.col("a_us") <= bucket_us)
        )
        .select("signup_id", "follow_id")
    )


@query(
    "session_window_native",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (30-min gap) in batch mode
    — merging overlapping per-event windows into sessions inside the
    aggregation, no self-window pre-pass. The oracle reconstructs the
    identical sessions via the lag+cumsum formulation (session_window's
    end = last event + gap). Same operator runs unchanged in Structured
    Streaming with a watermark.

    NULL-ts contract (round-9 hostile sweep, shared by every native
    window/session_window/hopping plan here): Spark's event-time
    assigners DROP a timestampless row — no window can be assigned and
    a stream could never watermark it — while a plain SQL GROUP BY on
    the derived key would emit a phantom NULL-keyed group. The oracles
    mirror the drop with ``WHERE ts IS NOT NULL``. (The batch groupBy
    form ``event_window`` keeps its NULL group — that one is a plain
    key aggregate, not an event-time assigner.)"""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "asof_cogroup_pandas",
    oracle="""
    SELECT event_id,
           last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts NULLS FIRST,
                            CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
    FROM events ORDER BY event_id
    """,
)
def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same as-of join as asof_last_signup, via the OTHER mechanism:
    cogrouped applyInPandas with pd.merge_asof per user — the pattern for
    as-of semantics that a window can't express (different left/right
    tables, nearest-key tolerance).

    ORACLE-BACKED since round 8 (was rows-only r1-r7 as "cogrouped-
    pandas plumbing"). The oracle is ``asof_last_signup``'s last_value
    window with ONE deliberate difference: signups sort BEFORE
    non-signups within a timestamp tie. merge_asof's contract is
    value-based — a signup at exactly the event's ts matches
    (signup_ts <= ts) no matter how event_ids order the tied rows —
    whereas the plain (ts, event_id) window would hide a tied signup
    whose event_id sorts after the event. The signup-first tie-break
    makes the replay exact under ALL data, including ties absent from
    the fixtures: a multi-signup tie emits the tied ts under either
    engine's pick, and a signup/event tie resolves to the tied ts in
    both. (The two as-of twins therefore have genuinely different tie
    contracts — window-positional vs value-based — equal on tie-free
    data; the row-for-row equality test would flag a tie fixture.)"""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    left = ev.select("user_id", "event_id", "ts")
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        # NULL-ts rows split out BEFORE merge_asof (round-8 review):
        # NaT keys break merge_asof's monotonicity validation
        # (ValueError mid-worker). The contract matches the window
        # twin's NULLS FIRST semantics: a timestampless event precedes
        # everything and matches nothing; a timestampless signup is
        # visible to nobody.
        null_ts = l[l["ts"].isna()]
        l = l[l["ts"].notna()].sort_values(["ts", "event_id"])
        r = r[r["signup_ts"].notna()]
        if r.empty:
            out = l.assign(last_signup=pd.NaT)
        else:
            out = pd.merge_asof(
                l,
                r.sort_values("signup_ts"),
                left_on="ts",
                right_on="signup_ts",
                by="user_id",
                direction="backward",
            ).rename(columns={"signup_ts": "last_signup"})
        out = out[["event_id", "last_signup"]]
        if len(null_ts):
            out = pd.concat(
                [null_ts[["event_id"]].assign(last_signup=pd.NaT), out]
            )
        return out

    out = (
        left.groupBy("user_id")
        .cogroup(right.groupBy("user_id"))
        .applyInPandas(merge, schema="event_id long, last_signup timestamp")
    )
    return out


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS "count"
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on a keyed stream with a
    watermark bounding the dedup state — the streaming counterpart of
    dedup_exact (new docs dedup against everything inside the watermark
    horizon). Counts surviving events per type after keep-first dedup on
    (user_id, event_type).

    ORACLE-BACKED since round 9 (was rows-only r1-r8; VERDICT r8 #4,
    the python_stream_source precedent): the stream drains a STATIC
    single-file source to completion, so the final complete-mode table
    is deterministic and equals the batch DISTINCT aggregate. Why the
    replay is exact: (a) the file source stages ONE symlinked parquet
    and sets no maxFilesPerTrigger, so the whole fixture arrives in
    micro-batch 0 while the watermark is still unset — no row can be
    late-dropped; (b) the dedup keys (user_id, event_type) exclude the
    event-time column, so state never evicts mid-drain and keep-first
    keeps exactly one row per distinct key (NULL keys compare equal in
    dropDuplicates and in SQL DISTINCT alike); (c) complete output
    mode re-emits the final counts table. On an UNBOUNDED stream the
    result would be the watermark-horizon dedup the docstring
    describes — the oracle pins the drained-static contract, the same
    one the driver exercises."""
    from ..streaming.windows import events_stream

    src = events_stream(spark, f"{sf_dir}/events.parquet").withWatermark(
        "ts", "1 hour"
    )
    deduped = src.dropDuplicates(["user_id", "event_type"])
    counts = deduped.groupBy("event_type").count()
    from ..streaming.windows import run_drained

    # complete-mode sink: the final counts table is emitted with the
    # last data batch; the trailing no-data batch only evicts state —
    # skipped (round-13 drain-cost optimization, see run_drained).
    return run_drained(
        spark, counts, "complete", "stream_dedup", no_data_batches=False
    ).orderBy("event_type")


# dedup's module import registers its oracles; _load() already orders
# dedup before streaming, this import just makes the dependency explicit
# (and keeps the oracle_for lookup below cheap — no full _load cascade).
from .dedup import minhash_bands as _ensure_dedup_registered  # noqa: E402,F401
from ..registry import oracle_for  # noqa: E402


@query(
    "streaming_incremental_dedup",
    # the drained stream's invariant IS the one-shot batch LSH pair set
    # (each pair is discovered when its second member arrives), so the
    # oracle is dedup_minhash_lsh's, reused verbatim
    oracle=oracle_for("dedup_minhash_lsh"),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion fuzzy dedup: documents arrive in micro-
    batches; each batch is MinHash-banded and joined against the
    accumulated band index, then appended to it (foreachBatch with a
    parquet-backed index — the Delta-upsert seat in production). The
    test suite asserts the discovered pair set equals the one-shot batch
    LSH exactly.

    ORACLE-BACKED since round 9 (was rows-only r1-r8; VERDICT r8 #4):
    the input is a static fixture sliced into deterministic doc_id
    ranges, so the drained union-of-matches is deterministic and — by
    the tested invariant above — equals ``dedup_minhash_lsh``'s pair
    set, whose DuckDB replay this query reuses verbatim. The batch
    plan's ``_MAX_BUCKET`` degenerate-bucket guard is mirrored as an
    accumulated-bucket cap on the per-batch join (ADVICE r9 — see
    ``incremental_minhash_dedup`` for the cap-crossing semantics and
    the test that pins them)."""
    from ..streaming.incremental import incremental_minhash_dedup

    return incremental_minhash_dedup(spark, table(spark, sf_dir, "documents"))


@query(
    "resample_ffill",
    oracle="""
    WITH hr AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(TRY_CAST(value AS DECIMAL(18,6))) AS av
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ), span AS (
      SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hr GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM span
    )
    SELECT g.user_id, g.h,
           last_value(hr.av IGNORE NULLS)
             OVER (PARTITION BY g.user_id ORDER BY g.h) AS v,
           CAST(CASE WHEN hr.av IS NULL THEN 1 ELSE 0 END AS INT) AS gap
    FROM grid g LEFT JOIN hr ON g.user_id = hr.user_id AND g.h = hr.h
    ORDER BY g.user_id, g.h
    """,
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per-user hourly grid from first to last
    observed hour, mean value per occupied hour, forward-fill across
    gaps (the standard densify-then-carry step before feature windows
    or charting; `gap` marks synthesized rows).

    Scale shape: the hourly pre-aggregate shrinks events to (user, hour)
    cardinality BEFORE anything wide happens; the grid explodes narrowly
    from each user's 2-row span; grid⋈hourly co-partitions on the same
    (user, hour) key; forward-fill is a per-user ordered window whose
    partition size is bounded by that user's span in hours — millions of
    users parallelize, no global sort anywhere. The hourly mean uses an
    exact decimal sum, so no float wobble crosses the oracle hash.

    The declared query keeps a bounded user slice (< 20) so the oracle
    output stays reviewable; ``resample_pipeline`` is the unfiltered
    dataflow the scale probe drives over millions of users."""
    return resample_pipeline(
        table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    )


def resample_pipeline(ev: DataFrame) -> DataFrame:
    """Densify-and-carry over an arbitrary events frame (see
    ``resample_ffill`` for the plan-shape argument)."""
    from pyspark.sql import Window

    # denominator counts the CAST column so n matches the summed domain
    # (ADVICE r9 — see event_window); an hour whose every value is
    # out-of-domain gets av NULL and is carried over like a gap.
    d = F.col("value").try_cast("decimal(18,6)")
    hr = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg((F.sum(d).cast("double") / F.count(d)).alias("av"))
    span = hr.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hr, ["user_id", "h"], "left")
        .select(
            "user_id",
            "h",
            F.last("av", ignorenulls=True).over(w).alias("v"),
            F.when(F.col("av").isNull(), 1).otherwise(0).cast("int").alias("gap"),
        )
    )


@query(
    "event_hopping_window",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             make_timestamp(epoch_us(ts) // 1800000000 * 1800000000) AS w2
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, value,
             unnest([w2, w2 - INTERVAL 30 MINUTE]) AS ws
      FROM e
    )
    SELECT event_type, ws, COUNT(*) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows: 1-hour windows every 30
    minutes, so each event lands in exactly size/hop = 2 windows.
    Spark's native `window(ts, '1 hour', '30 minutes')` expands the
    assignment scan-side (a generator, no join against a window table)
    and the count/sum partial-aggregate — shuffle volume is
    |windows|·|types| partials, not |events|·2 rows. The oracle spells
    out the same assignment arithmetic: the window starts covering t
    are trunc30(t) and trunc30(t)−30min. DECIMAL sum → DOUBLE keeps the
    hash comparable across accumulation orders. Ref parity: SURVEY.md
    §2.2 streaming (windowed aggregation, hopping variant)."""
    ev = table(spark, sf_dir, "events")
    # ts arrives as TIMESTAMP_NTZ (see event_session); window() takes both,
    # but cast so batch output type matches the TIMESTAMP the oracle emits.
    w = F.window(F.col("ts").cast("timestamp"), "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double").alias("sv"),
        )
        .select("event_type", F.col("w.start").alias("ws"), "cnt", "sv")
        .orderBy("event_type", "ws")
    )


@query(
    "streaming_hopping",
    oracle="""
    WITH e AS (
      SELECT event_type, value,
             make_timestamp(epoch_us(ts) // 1800000000 * 1800000000) AS w2
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, value,
             unnest([w2, w2 - INTERVAL 30 MINUTE]) AS ws
      FROM e
    )
    SELECT event_type, ws AS h, COUNT(*) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming hopping windows: readStream over the
    events parquet, window(ts, '1 hour', '30 minutes'), complete-mode
    memory sink run to completion — the streaming twin of
    event_hopping_window, sharing its oracle because complete mode over
    a finite backfill equals the batch aggregate (the batch/streaming
    unification property, pinned for the tumbling case by
    test_streaming_equals_batch and for this hopping case by
    test_streaming_hopping_equals_batch)."""
    from ..streaming.windows import run_windowed_count

    return run_windowed_count(
        spark, f"{sf_dir}/events.parquet", window="1 hour", slide="30 minutes"
    )


@query(
    "anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, count(TRY_CAST(value AS DECIMAL(18,6))) AS n,
             CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
             CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))
                      * TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS svv
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, value,
           round((value - sv / n)
                 / sqrt((svv - (sv * sv) / n) / nullif(n - 1, 0)), 6) AS z
    FROM events e JOIN s USING (event_type)
    WHERE abs((value - sv / n)
              / sqrt((svv - (sv * sv) / n) / nullif(n - 1, 0))) > 3.0
    ORDER BY event_id
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly detection: events whose ``value`` is more than 3
    sample standard deviations from their event-type mean — the batch
    twin of a monitoring alert (the streaming version is this aggregate
    per window; see ``event_window``).

    Determinism across engines: mean/stddev are derived from DECIMAL
    sums (Σv, Σv² accumulate exactly, so partial-agg combine order
    cannot perturb them — the repo's standard float-agg idiom, cf.
    ``streaming_hopping``'s oracle), converted to double once, then
    sigma = sqrt((Σv² - (Σv)²/n) / (n-1)) in identical double ops on
    both sides; n counts the CAST column so the denominator matches
    the summed domain exactly (ADVICE r9 — an out-of-DECIMAL value no
    longer deflates the mean while being excluded from the sums).
    Scale shape: per-type stats are a tiny partial-agg'd groupBy
    (|event_type| keys), broadcast back — the event scan is never
    shuffled."""
    ev = table(spark, sf_dir, "events")
    d = F.col("value").try_cast("decimal(18,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(d).alias("n"),
        F.sum(d).cast("double").alias("sv"),
        F.sum(d * d).cast("double").alias("svv"),
    )
    mu = F.col("sv") / F.col("n")
    # nullif: a single-event type has no sample stddev (n-1 = 0); the
    # null sigma drops the row via the predicate instead of tripping
    # ANSI integer division-by-zero.
    sigma = F.sqrt(
        (F.col("svv") - (F.col("sv") * F.col("sv")) / F.col("n"))
        / F.nullif(F.col("n") - F.lit(1), F.lit(0))
    )
    z = (F.col("value") - mu) / sigma
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH pu AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS t_v,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'click') AS t_c,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS t_p
      FROM events GROUP BY user_id
    ), f AS (
      SELECT count(t_v) AS n_view,
             count(*) FILTER (WHERE t_c >= t_v) AS n_click,
             count(*) FILTER (WHERE t_c >= t_v AND t_p >= t_c) AS n_purchase
      FROM pu
    )
    SELECT n_view, n_click, n_purchase,
           round(n_click / nullif(n_view, 0), 6) AS r_click,
           round(n_purchase / nullif(n_click, 0), 6) AS r_purchase
    FROM f
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) with first-touch
    ordering: a user advances a stage only if their FIRST click is at
    or after their first view, and their first purchase at or after
    that click — the standard product-analytics conversion query.

    One pass: per-user first-occurrence times are three conditional
    MINs in a single partial-agg'd groupBy(user_id) (no self-join, no
    window sort); the funnel itself is a singleton aggregate over that
    user table. Comparisons run on integral microseconds, so both
    engines agree exactly; null stage times fail the >= predicates on
    both sides identically."""
    ev = table(spark, sf_dir, "events")
    # Spark 4 reads as TIMESTAMP_NTZ; unix_micros requires TIMESTAMP.
    # The session is pinned UTC, so the cast is value-preserving.
    m = F.unix_micros(F.col("ts").cast("timestamp"))

    def first(t: str):
        return F.min(F.when(F.col("event_type") == t, m))

    pu = ev.groupBy("user_id").agg(
        first("view").alias("t_v"),
        first("click").alias("t_c"),
        first("purchase").alias("t_p"),
    )
    advanced = F.col("t_c") >= F.col("t_v")
    full = advanced & (F.col("t_p") >= F.col("t_c"))
    f = pu.agg(
        F.count("t_v").alias("n_view"),
        F.count(F.when(advanced, True)).alias("n_click"),
        F.count(F.when(full, True)).alias("n_purchase"),
    )
    return f.select(
        "n_view",
        "n_click",
        "n_purchase",
        F.round(F.col("n_click") / F.nullif(F.col("n_view"), F.lit(0)), 6).alias("r_click"),
        F.round(F.col("n_purchase") / F.nullif(F.col("n_click"), F.lit(0)), 6).alias("r_purchase"),
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    )
    SELECT date_trunc('week', t0) AS cohort_week,
           CAST(floor(date_diff('day',
                                CAST(date_trunc('week', t0) AS DATE),
                                CAST(date_trunc('week', ts) AS DATE)) / 7)
                AS BIGINT) AS week_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first_seen USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week they first
    appeared, counted distinct in each subsequent activity week — the
    table every growth dashboard draws as the retention triangle.

    Scale shape: first-seen is one partial-agg'd groupBy(user_id); the
    join back to events is user-keyed (co-partitioned sort-merge at
    corpus scale — both sides shuffle on the same key once, and AQE
    broadcasts the user table when it fits). Week arithmetic happens on
    week-TRUNCATED dates, so the day-difference is an exact multiple of
    7 and the integer division agrees across engines."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    wk = lambda c: F.to_date(F.date_trunc("week", F.col(c)))  # noqa: E731
    return (
        ev.join(first_seen, "user_id")
        .groupBy(
            F.date_trunc("week", F.col("t0")).alias("cohort_week"),
            F.floor(F.datediff(wk("ts"), wk("t0")) / 7).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


#: hand-rolled HLL layout: m = 1024 registers (σ ≈ 1.04/√m ≈ 3.3%),
#: register index = first 3 md5 hex digits mod 1024, rank field = the
#: next 13 hex digits (52 bits), ρ = 53 − bitlen(w) (leading zeros + 1;
#: w = 0 degenerates to ρ = 52 via bin(0) = '0' — identical in both
#: engines, so the 2⁻⁵² corner stays bit-exact rather than special-
#: cased). Register terms 2^−M sum EXACTLY as integers scaled by 2⁵²
#: (each term is a power of two; double summation of a 2⁰..2⁻⁵²
#: exponent spread would round order-dependently, so the sum rides
#: DECIMAL(38,0) of shiftleft longs — order-free and exact).
_HLL_M = 1024
_HLL_W_BITS = 52
_HLL_SCALE = 1 << _HLL_W_BITS  # 4503599627370496


@query(
    "hll_user_reach",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 3))
                  AS UBIGINT) % {_HLL_M} AS j,
             53 - length(bin(CAST(('0x' || substr(md5(CAST(user_id
                  AS VARCHAR)), 4, 13)) AS UBIGINT))) AS rho
      FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
      SELECT event_type, j, MAX(rho) AS m FROM x GROUP BY event_type, j
      UNION ALL
      SELECT '~all', j, MAX(rho) FROM x GROUP BY j
    ),
    z AS (
      SELECT event_type,
             SUM(CAST((1::BIGINT << ({_HLL_W_BITS} - m)) AS DECIMAL(38,0)))
               + ({_HLL_M} - COUNT(*)) * CAST({_HLL_SCALE} AS DECIMAL(38,0))
               AS zs,
             {_HLL_M} - COUNT(*) AS v
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / {_HLL_M}.0::DOUBLE)
               * {_HLL_M}.0::DOUBLE * {_HLL_M}.0::DOUBLE
               * {_HLL_SCALE}.0::DOUBLE / CAST(zs AS DOUBLE) AS raw,
             v
      FROM z
    ),
    ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_users FROM events
      WHERE user_id IS NOT NULL GROUP BY event_type
      UNION ALL
      SELECT '~all', COUNT(DISTINCT user_id) FROM events
      WHERE user_id IS NOT NULL
    )
    SELECT est.event_type,
           {_dd_q4(f"CASE WHEN raw <= {2.5 * _HLL_M}::DOUBLE AND v > 0 "
                   f"THEN {_HLL_M}.0::DOUBLE * ln({_HLL_M}.0::DOUBLE / v) "
                   f"ELSE raw END")} AS est_users,
           exact_users
    FROM est JOIN ex ON est.event_type = ex.event_type
    ORDER BY est.event_type
    """,
)
def hll_user_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting: an HLL sketch of the user
    population per event type, plus the UNION of those sketches for
    total reach — without rescanning raw events for the total.

    This is the 100 TB idiom for COUNT(DISTINCT): store per-partition /
    per-day sketch tables (m integers per cell, built in one
    partial-agg'd pass) and answer any rollup by merging sketches;
    exact distinct over a trillion-row fact would shuffle every key,
    and re-counting the union from raw data would re-scan the corpus
    per rollup. ``approx_agg`` covers the one-shot
    approx_count_distinct form; this exercises the MERGEABLE form —
    the ``~all`` row is computed by REGISTER MERGE (max of per-type
    register maxima), never by rescanning users.

    GRADUATED from rows-only in round 11 (VERDICT r10 #5): the
    original used Apache DataSketches (engine-specific bits, no DuckDB
    twin); the sketch is now the textbook Flajolet HLL hand-rolled
    from the repo's md5 hash family (see the layout constants above),
    so registers, the scaled-integer Z sum, the α·m²/Z estimator
    (operation order mirrored verbatim), and the small-range linear-
    counting branch (raw ≤ 2.5m ∧ V>0 → m·ln(m/V), the ln-parity
    precedent), and the final ``_dd_q4`` quantizer are all
    bit-identical in both engines — the WHOLE estimate is
    hash-checked, not error-bounded. An exact_users column
    rides along as the in-row accuracy witness (the unit test bounds
    |est − exact| against the σ ≈ 3.3% class).

    PLATFORM-PARITY SENSITIVITY (ADVICE r11): the hash-exact contract
    additionally rests on JVM ``Math.log`` and DuckDB/libm ``ln``
    (plus the double divisions feeding them) agreeing bit-for-bit in
    the linear-counting branch. Both are correctly-rounded or
    near-correctly-rounded on this platform and the ``_dd_q4``
    4-dp floor quantizer absorbs sub-ulp drift except exactly at a
    quantization boundary — narrow, but not zero, on a DIFFERENT
    JVM/libm. If the environment (JDK, Spark, DuckDB, or glibc) is
    ever bumped, re-run the hostile sweep and the tri-SF parity
    sweeps for this query before trusting historical CORRECTNESS
    rows; the error-bound unit test (test_plans) is the backstop that
    stays meaningful on any platform.

    Scale shape: one narrow scan computes (j, ρ) inside codegen; the
    shuffle carries ≤ types·m register partials (map-side MAX), the
    merge row reuses the same register frame, and the exact column's
    COUNT(DISTINCT) — present for the witness, the one corpus-keyed
    shuffle — is exactly what a production deployment would DROP,
    keeping only the sketch path."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    h = F.md5(F.col("user_id").cast("string"))
    x = ev.select(
        "event_type",
        (F.conv(F.substring(h, 1, 3), 16, 10).cast("long") % _HLL_M).alias("j"),
        (
            F.lit(53)
            - F.length(F.bin(F.conv(F.substring(h, 4, 13), 16, 10).cast("long")))
        ).alias("rho"),
    )
    per = x.groupBy("event_type", "j").agg(F.max("rho").alias("m"))
    merged = per.groupBy("j").agg(F.max("m").alias("m")).select(
        F.lit("~all").alias("event_type"), "j", "m"
    )
    regs = per.unionAll(merged)
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_W_BITS} - m)")
    z = regs.groupBy("event_type").agg(
        (
            F.sum(term.cast("decimal(38,0)"))
            + (F.lit(_HLL_M) - F.count("*"))
            * F.lit(_HLL_SCALE).cast("decimal(38,0)")
        ).alias("zs"),
        (F.lit(_HLL_M) - F.count("*")).alias("v"),
    )
    raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(float(_HLL_M)))
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_M))
        * F.lit(float(_HLL_SCALE))
        / F.col("zs").cast("double")
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("v") > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("v")),
    ).otherwise(raw)
    est = z.select(
        "event_type",
        (F.floor(corrected * 10000.0 + 0.5) / 10000.0).alias("est_users"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    exact_all = ev.agg(
        F.count_distinct("user_id").alias("exact_users")
    ).select(F.lit("~all").alias("event_type"), "exact_users")
    return (
        est.join(exact.unionAll(exact_all), "event_type")
        .select("event_type", "est_users", "exact_users")
        .orderBy("event_type")
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id,
           count(*) OVER w AS n_in_window,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sv
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame moving aggregate: per user, the count and value-sum
    of their events in the trailing 10 minutes — the time-based frame
    (``RANGE BETWEEN interval PRECEDING``) that ROWS frames cannot
    express when event spacing is irregular (fraud velocity checks,
    rate limiting, rolling exposure).

    The frame bound is integral MICROSECONDS on both engines (epoch_us
    ordering), so peer-row grouping at equal timestamps and the
    600-second cutoff agree exactly; the sum accumulates in DECIMAL
    (the repo's float-agg idiom). One shuffle on user_id; frame
    evaluation is a per-partition ordered sweep — no self-join, which
    is what a naive "events within 10 minutes" range join would cost
    (cf. ``range_join_follow`` for the pair-listing variant)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count("*").over(w).alias("n_in_window"),
        F.sum(F.col("value").try_cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sv"),
    )


@query(
    "incremental_rollup",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the hourly rollup is maintained as
    a MERGE of a pre-aggregated base table and a new-arrivals delta
    (simulated here as an 80/20 split on event_id), never by rescanning
    base raw data — the pattern that keeps a 100 TB fact's rollup fresh
    at delta cost (aggregate states are decomposable: count and DECIMAL
    sum both merge associatively; avg/stddev derive from merged sums).

    The ORACLE is the direct full recompute over all events — parity
    here PROVES the incremental merge is exactly lossless, which is the
    whole contract of view maintenance. DECIMAL accumulation makes the
    proof independent of partial-agg combine order on both paths."""
    ev = table(spark, sf_dir, "events")

    def rollup(part: DataFrame) -> DataFrame:
        return part.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").try_cast("decimal(18,6)")).alias("s"),
        )

    base = rollup(ev.filter(F.col("event_id") % 10 < 8))    # stored rollup
    delta = rollup(ev.filter(F.col("event_id") % 10 >= 8))  # new arrivals
    return (
        base.unionAll(delta)
        .groupBy("event_type", "h")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("s").cast("double").alias("sv"),
        )
        .orderBy("event_type", "h")
    )


@query(
    "winsorized_stats",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), p AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p5,
             quantile_cont(value, 0.95) AS p95
      FROM ev GROUP BY event_type
    )
    SELECT e.event_type,
           round(p5, 4) AS p5r, round(p95, 4) AS p95r,
           CAST(SUM(TRY_CAST(round(least(greatest(value, p5), p95), 6)
                             AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) AS w_mean
    FROM ev e JOIN p USING (event_type)
    GROUP BY e.event_type, p5, p95
    ORDER BY e.event_type
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type mean with 5%/95% winsorization: tail values are
    clamped to the exact percentiles before averaging — the standard
    guard against a handful of corrupt meter readings dragging a
    monitoring mean (cf. ``anomaly_zscore`` for flagging the outliers
    themselves).

    Determinism: percentiles interpolate identically (linear, both
    engines — the ``quantile_price`` idiom), clamped values are rounded
    to 1e-6 BEFORE the DECIMAL cast (round is the proven cross-engine
    op; a raw double→DECIMAL cast would expose the engines' different
    rounding modes), and the sum accumulates exactly in DECIMAL. Scale:
    exact per-type percentiles sort within each type partition — at a
    true 100 TB the drop-in substitute is percentile_approx (see
    ``approx_agg``), same plan otherwise.

    NULL measurements are filtered explicitly (round-8 review, the
    ``value_histogram`` rule): greatest/least skip NULLs in BOTH
    engines, so an unguarded NULL row would clamp to a phantom p5
    observation while count(*) still counted it — w_mean drifting
    toward p5 identically on both sides, invisible to parity."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pcts = F.expr("percentile(value, array(0.05D, 0.95D))")
    p = ev.groupBy("event_type").agg(
        pcts[0].alias("p5"), pcts[1].alias("p95")
    )
    clipped = F.round(
        F.least(F.greatest(F.col("value"), F.col("p5")), F.col("p95")), 6
    ).try_cast("decimal(18,6)")
    return (
        ev.join(F.broadcast(p), "event_type")
        .groupBy("event_type", "p5", "p95")
        .agg(
            (F.sum(clipped).cast("double") / F.count("*")).alias("w_mean"),
        )
        .select(
            "event_type",
            F.round("p5", 4).alias("p5r"),
            F.round("p95", 4).alias("p95r"),
            "w_mean",
        )
        .orderBy("event_type")
    )


@query(
    "streaming_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS lag_min
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join: clicks joined to purchases by the same
    user within 30 minutes, both sides readStream over the events
    parquet with 1-hour watermarks, run to completion through an
    append-mode memory sink (see streaming/joins.py for the state-
    bounding discussion). Over a finite backfill the inner join equals
    the batch inequality join — the oracle. The batch twin of this
    topology is ``range_join_follow``'s bucketized equi-join; the
    streaming runtime gets the same effect from watermark-evicted join
    state instead of bucket keys."""
    from ..streaming.joins import run_clicks_purchases_join

    return run_clicks_purchases_join(spark, f"{sf_dir}/events.parquet")


@query(
    "attribution_last_touch",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
    ), a AS (
      SELECT event_id, user_id, event_type, us,
             max(CASE WHEN event_type = 'click'
                      THEN {'us': us, 'eid': event_id} END)
               OVER (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lc
      FROM e
    )
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN us - lc.us <= 604800000000 THEN lc.eid END AS click_id,
           CASE WHEN us - lc.us <= 604800000000
                THEN (us - lc.us) // 60000000 END AS lag_min
    FROM a WHERE event_type = 'purchase' ORDER BY purchase_id
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase is credited to
    the same user's most recent click within a trailing 7-day window
    (NULL → organic). The marketing twin of ``asof_last_signup``, with
    the horizon cap that real attribution requires.

    Plan shape: ONE window pass over a user_id-partitioned,
    microsecond-ordered sweep — max(struct(us, event_id)) over an
    UNBOUNDED-PRECEDING frame carries the most recent click forward
    alongside every event (add-only, so Spark's frame evaluator stays
    incremental), and purchases project it out with the 7-day recency
    check applied AFTER the window. The naive formulation is a
    time-range self-join (purchases × clicks per user — quadratic);
    and the seemingly-equivalent MOVING range frame
    (``RANGE 7 days PRECEDING``) is a measured whale-key wall: max over
    a struct is not invertible, so Spark recomputes the frame per slide
    — O(events × frame) on one key; the round-4 skew probe (50% of 10M
    events on one user) did not finish in 35 minutes under it, while
    this add-only form is linear per partition. Semantics are
    identical: the unbounded max IS the most recent click, and the
    recency predicate nulls it out exactly when the bounded frame would
    have been empty. Clicks sharing the purchase's exact microsecond
    are peers of the RANGE frame on both engines, and the struct
    tie-break (largest event_id) is identical, so the engines agree
    exactly.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lc = F.max(
        F.when(
            F.col("event_type") == "click",
            F.struct(us.alias("us"), F.col("event_id").alias("eid")),
        )
    ).over(w)
    within = (F.col("us") - F.col("lc.us")) <= 604_800_000_000
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            us.alias("us"),
            lc.alias("lc"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.when(within, F.col("lc.eid")).alias("click_id"),
            F.when(
                within, F.floor((F.col("us") - F.col("lc.us")) / 60_000_000)
            ).alias("lag_min"),
        )
    )


@query(
    "linreg_by_key",
    oracle="""
    WITH m AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(hour(ts) AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(hour(ts) AS DECIMAL(18,6))
                      * TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(hour(ts) AS DECIMAL(18,6))
                      * CAST(hour(ts) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))
                      * TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS syy
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) * sx)
                 / n, 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r2
    FROM m ORDER BY event_type
    """,
)
def linreg_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (value ~ hour-of-day, per event
    type): slope, intercept, and r² from closed-form normal equations —
    the fit-a-trend-per-key primitive of metric monitoring.

    The whole fit decomposes into six DECIMAL moment sums (n, Σx, Σy,
    Σxy, Σx², Σy²) that partial-aggregate map-side and combine
    associatively — one scan, one |keys|-row shuffle, no iteration
    (closed form beats gradient descent wherever d is tiny). DECIMAL
    accumulation makes the sums bit-exact regardless of combine order
    (the ``anomaly_zscore`` idiom), and the slope/intercept/r²
    arithmetic is spelled with identical double ops in both engines,
    rounded to 6 dp."""
    ev = table(spark, sf_dir, "events")
    x = F.hour("ts").cast("decimal(18,6)")
    y = F.col("value").try_cast("decimal(18,6)")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # nullif guards (round-8 review, the anomaly_zscore/ab_test idiom):
    # a degenerate group — all events at one hour-of-day, or constant
    # value — zeroes a denominator; under Spark 4's default ANSI mode
    # that is a DIVIDE_BY_ZERO crash at collect time (the .count()-only
    # degenerate sweep prunes the division and never sees it), while
    # NULL is the honest undefined-fit answer both engines agree on.
    den = F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    slope = num / den
    return m.select(
        "event_type",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            (num * num)
            / F.nullif(
                den * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            ),
            6,
        ).alias("r2"),
    ).orderBy("event_type")


@query(
    "streaming_topk",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), r AS (
      SELECT h, event_type, cnt,
             row_number() OVER (PARTITION BY h
                                ORDER BY cnt DESC, event_type) AS rnk
      FROM w
    )
    SELECT h, event_type, cnt, rnk FROM r WHERE rnk <= 3 ORDER BY h, rnk
    """,
)
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous top-k: the 3 busiest event types per hour, maintained
    over a REAL readStream — the live-leaderboard topology (trending
    queries, hottest skus).

    Ranking is not an incremental streaming aggregate, so the
    production pattern is exactly what runs here: the WINDOWED COUNTS
    are the streaming state (complete-mode window agg — same state as
    ``streaming_window``), and the rank is computed over that
    hour-keyed, |types|-sized RESULT table each emission, never over
    events. State and rank input are both O(hours × types); the event
    stream itself is touched once by the count aggregate. Over the
    finite backfill the result equals the batch window+rank — the
    unification property, same as every streaming twin here.
    """
    from ..streaming.windows import run_windowed_count
    from pyspark.sql import Window

    counts = run_windowed_count(spark, f"{sf_dir}/events.parquet")
    rnk = F.row_number().over(
        Window.partitionBy("h").orderBy(F.desc("cnt"), "event_type")
    )
    return (
        counts.select("h", "event_type", "cnt", rnk.alias("rnk"))
        .filter(F.col("rnk") <= 3)
        .orderBy("h", "rnk")
    )


@query(
    "ab_test_ztest",
    oracle="""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN count(*) FILTER (WHERE event_type = 'purchase')
                       > count(*) FILTER (WHERE event_type = 'click')
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ), g AS (
      SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(converted) AS DOUBLE) AS conv
      FROM assign GROUP BY grp
    ), w AS (
      SELECT
        (SELECT n FROM g WHERE grp = 0) AS n_a,
        (SELECT conv FROM g WHERE grp = 0) AS c_a,
        (SELECT n FROM g WHERE grp = 1) AS n_b,
        (SELECT conv FROM g WHERE grp = 1) AS c_b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS conv_b,
           round(c_a / n_a - c_b / n_b, 6) AS lift,
           round((c_a / n_a - c_b / n_b)
                 / nullif(sqrt(((c_a + c_b) / (n_a + n_b))
                        * (1.0 - (c_a + c_b) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z
    FROM w
    """,
)
def ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: users hash-split
    into arms (user_id parity here; production uses the
    ``train_split_hash`` bucketing), conversion = more purchases than clicks (a per-user rate contrast
    that stays non-degenerate on the fixture), and
    the pooled-variance z statistic decides significance — the
    experimentation readout every product pipeline ships.

    Scale shape: per-user conversion is one partial-agg'd groupBy
    (users-sized shuffle), arm totals collapse to ONE conditional-
    aggregate row, and the z arithmetic is driver-trivial — spelled
    with identical double ops in both engines and rounded (the
    PageRank reassociation rule). Counts stay exact (integers), so the
    only float work is the final closed form.

    The arm totals are ONE global conditional aggregate, not two
    filtered branches crossJoined (round-8 review): with an empty arm
    (or an empty table) the old crossJoin returned ZERO rows while the
    oracle's scalar subqueries always emit one row with NULL totals;
    sum-of-when yields exactly those NULLs, so the shapes agree on any
    input."""
    ev = table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", True))
            > F.count(F.when(F.col("event_type") == "click", True))
        )
        .cast("int")
        .alias("converted")
    ).withColumn("grp", F.col("user_id") % 2)
    w = assign.agg(
        F.sum(F.when(F.col("grp") == 0, 1)).cast("double").alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")))
        .cast("double")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, 1)).cast("double").alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")))
        .cast("double")
        .alias("c_b"),
    )
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    diff = F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b")
    return w.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round(diff, 6).alias("lift"),
        F.round(
            diff
            / F.nullif(
                F.sqrt(
                    pool * (F.lit(1.0) - pool)
                    * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z"),
    )


@query(
    "markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events WHERE ts IS NOT NULL
    ), c AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS cnt FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), tot AS (
      SELECT cur, SUM(cnt) AS t FROM c GROUP BY cur
    )
    SELECT c.cur, c.nxt, c.cnt, round(c.cnt / t, 6) AS p
    FROM c JOIN tot USING (cur) ORDER BY cur, nxt
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the sequence model behind
    next-action prediction and journey analysis.

    One user-keyed window (lead) turns the log into transitions, then
    a |types|²-keyed count with map-side combine; row-normalization
    joins the |types|-sized totals back (broadcast-trivial). The
    transition matrix is states²-sized regardless of event volume —
    the same corpus-size-independence as ``embedding_covariance``.
    DuckDB's ``cnt / t`` on BIGINT/HUGEINT divides as double, matched
    by an explicit double division Spark-side, rounded to 6 dp.
    NULL-ts rows dropped on both sides (the ``event_session``
    timeline contract, round-9 hostile sweep): an unorderable event
    sat at the sequence HEAD under Spark's NULLS FIRST but the TAIL
    under DuckDB's NULLS LAST, forging different transitions."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("cur").agg(F.sum("cnt").alias("t"))
    return (
        c.join(tot, "cur")
        .select(
            "cur", "nxt", "cnt",
            F.round(F.col("cnt").cast("double") / F.col("t").cast("double"), 6)
            .alias("p"),
        )
        .orderBy("cur", "nxt")
    )


_QN_RANGE_PARTS = 8


@query(
    "quantile_normalize",
    oracle="""
    WITH r AS (
      -- NULLS FIRST pins DuckDB's default-ASC NULLS LAST to Spark's
      -- NULLS FIRST: an unpinned NULL value shifted every rank by one
      -- and every q by 1/(N-1) (round-9 hostile sweep)
      SELECT event_id, value,
             CAST(rank() OVER (ORDER BY value NULLS FIRST, event_id) - 1 AS DOUBLE)
               / NULLIF(COUNT(*) OVER () - 1, 0) AS q
      FROM events
    )
    SELECT event_id, value, round(q, 6) AS q FROM r
    WHERE event_id < 5000 ORDER BY event_id
    """,
)
def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a numeric feature: map every
    ``value`` to its empirical quantile in [0, 1] — the
    outlier-immune feature transform (ML preprocessing, score
    calibration).

    A global rank is the ``dictionary_encode`` single-task trap on a
    NUMERIC column; the same two-phase fix applies: range-repartition
    by (value, event_id), count per bucket → bounded offsets collect,
    then rank = offset + intra-bucket row_number with every bucket
    ranking in its own task. q = (rank-1)/(N-1), rounded — ties are
    broken by event_id identically in both engines, so q is exact, and
    the ids are boundary-invariant (offsets + local ranks compose to
    the global rank wherever the sampled range splits land). Output is
    capped to event_id < 5000 to keep the driver compare bounded; the
    transform itself is full-table."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("event_id", "value")
    n = ev.count()  # bounded scalar, matches the oracle's COUNT(*) OVER ()
    # localCheckpoint pins the sampled range boundaries across the two
    # jobs (offsets, output) — see dictionary_encode's boundary note;
    # without it the bucketings can differ and ranks shift (measured
    # max|Δq| ≈ 0.01 at sf0.01 before the pin).
    bucketed = (
        ev.repartitionByRange(_QN_RANGE_PARTS, "value", "event_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["pid"]: r["n"]
        for r in bucketed.groupBy("pid").agg(F.count("*").alias("n")).collect()
    }  # bounded: one row per range bucket
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = Window.partitionBy("pid").orderBy("value", "event_id")
    return (
        bucketed.select(
            "event_id",
            "value",
            F.round(
                (off[F.col("pid")] + F.row_number().over(local) - 1).cast("double")
                # nullif: a 1-row table zeroes N-1 — ANSI mode would
                # crash where the oracle answers NULL (round-8 review)
                / F.nullif(F.lit(float(n - 1)), F.lit(0.0)),
                6,
            ).alias("q"),
        )
        .filter(F.col("event_id") < 5000)
    )


@query(
    "streaming_static_join",
    # user_id IS NOT NULL mirrors the engine's INNER join: a NULL-user
    # event matches no dimension row (null-unsafe join equality), while
    # an unguarded GROUP BY would emit a phantom NULL cohort here
    oracle="""
    SELECT user_id % 5 AS cohort, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
    FROM events WHERE user_id IS NOT NULL GROUP BY 1 ORDER BY 1
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static (stream-to-dimension) join: the events stream
    enriches against a STATIC dimension table (user → cohort) before
    aggregating — the standard enrichment topology (clickstream ⋈ user
    profile), distinct from the stream-stream join: the static side
    needs no watermark or state, it broadcasts into every micro-batch
    and re-snapshots per batch (which is how slowly-refreshing dims
    stay current without restarting the query).

    The dimension derives deterministically (cohort = user_id % 5) so
    the batch oracle can fold the join away; the streaming path really
    does plan a join per micro-batch. Complete-mode memory sink over
    the finite backfill equals the batch aggregate — the unification
    property."""
    from ..streaming.windows import events_stream

    ev_static = table(spark, sf_dir, "events")
    dim = (
        ev_static.select("user_id").distinct()
        .withColumn("cohort", F.col("user_id") % 5)
    )
    src = events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        src.join(F.broadcast(dim), "user_id")
        .groupBy("cohort")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").try_cast("decimal(18,6)")).cast("double").alias("sv"),
        )
    )
    from ..streaming.windows import run_drained

    return run_drained(
        spark, agg, "complete", "stream_static", no_data_batches=False
    ).orderBy("cohort")


@query(
    "streaming_dedup_watermarked",
    oracle="""
    SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(COUNT(*) * 2 AS BIGINT) AS n_ingested
    FROM events
    """,
)
def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: the event stream is deliberately
    doubled (two readStreams unioned — an at-least-once source) and
    deduplicated with ``dropDuplicatesWithinWatermark`` on event_id —
    the production API for exactly-once semantics over at-least-once
    transports (Kafka redeliveries), where plain ``dropDuplicates``
    (``streaming_dedup``) keeps every key in state FOREVER and OOMs a
    100 TB backfill; the watermark variant evicts keys older than the
    delay, bounding state at O(events per watermark window).

    Over the finite in-order backfill nothing is late, so the result
    equals batch COUNT(DISTINCT event_id) — oracle-checkable, unlike
    the rows-only plain variant. n_ingested pins that the doubled
    input really was 2×."""
    from ..streaming.windows import events_stream

    src = events_stream(spark, f"{sf_dir}/events.parquet").select("event_id", "ts")
    doubled = src.unionByName(
        events_stream(spark, f"{sf_dir}/events.parquet").select("event_id", "ts")
    )
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.agg(F.count("*").alias("n_unique"))
    from ..streaming.windows import run_drained

    # dedup emits each surviving key downstream in the batch where it is
    # FIRST seen; the complete-mode count therefore finalizes with the
    # last data batch, and the trailing no-data batch only evicts
    # expired keys from state — skipped (round-13, see run_drained).
    result = run_drained(
        spark, agg, "complete", "stream_dedup_wm", no_data_batches=False
    )
    total = table(spark, sf_dir, "events").count()
    return result.select(
        F.col("n_unique").cast("long"),
        F.lit(total * 2).cast("long").alias("n_ingested"),
    )


@query(
    "decayed_engagement",
    oracle="""
    WITH mx AS (SELECT MAX(epoch_us(ts)) AS tmax FROM events)
    SELECT user_id,
           round(SUM(value * exp(-(tmax - epoch_us(ts))
                                 / 86400000000.0 / 7.0)), 6) AS score
    FROM events CROSS JOIN mx
    GROUP BY user_id ORDER BY user_id
    """,
)
def decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user
    (half-life-style recency weighting, τ = 7 days): the
    recency-weighted popularity/engagement counter behind feeds,
    trending ranks, and churn features — old activity decays smoothly
    instead of falling off a window cliff.

    Decayed sums are DECOMPOSABLE relative to a fixed reference time:
    weight = exp(-(t_ref - t)/τ) is per-row arithmetic, so the
    aggregate partial-combines map-side like any sum — one scan, one
    user-keyed shuffle; on a stream the same identity lets the score
    update incrementally (multiply the old state by the elapsed decay,
    add the new batch — cf. ``incremental_rollup``). t_ref = max(ts)
    is a singleton broadcast; the exp arithmetic is spelled
    identically in both engines and rounded to 6 dp (reassociation
    drift is ~1e-15 relative — the PageRank rule)."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = ev.agg(F.max(us).alias("tmax"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.col("value")
                    * F.exp(-(F.col("tmax") - us) / 86400000000.0 / 7.0)
                ),
                6,
            ).alias("score")
        )
    )


@query(
    "sliding_distinct_users",
    oracle="""
    WITH hours AS (
      SELECT DISTINCT date_trunc('hour', ts) AS h FROM events
    )
    SELECT h.h, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS dau
    FROM hours h JOIN events e
      ON e.ts >= h.h - INTERVAL 23 HOUR
     AND e.ts < h.h + INTERVAL 1 HOUR
    GROUP BY h.h ORDER BY h.h
    """,
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour distinct users, evaluated at every hour (the
    rolling-DAU curve). Distinct counts do NOT decompose over sliding
    windows — you cannot subtract the expiring hour from a running
    distinct — so the exact form must re-associate events to windows.

    The scalable shape used here: each event EXPLODES to the ≤24
    hourly evaluation points it can influence (a bounded, structural
    fan-out: window/slide ratio, the ``streaming_hopping`` state rule),
    then one partial-agg'd distinct per (hour, user). Shuffle volume
    is 24× events — linear, predictable — versus the naive
    hours×events range join the ORACLE runs (fine at oracle scale,
    quadratic-ish at 100 TB). Window convention is HALF-OPEN
    HOUR-BUCKET on both engines: evaluation point h covers
    [h−23h, h+1h) — its own bucket plus the previous 23 — so an event
    landing exactly on an hour boundary belongs to its own bucket only
    (ADVICE r3: the previous oracle used (h−23h, h+1h] microsecond
    edges, which disagrees with bucket semantics precisely on boundary
    timestamps). Events in the fixture's first 23 hours contribute to
    truncated windows, matching the oracle's join semantics exactly;
    production rollouts that want HLL instead of exact swap in
    ``hll_user_reach``'s sketch per cell."""
    ev = table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", "ts")
    # dedupe (event-hour, user) BEFORE the fan-out: a user active k
    # times in one hour must not explode k×24 rows — on real traffic
    # (many events per user-hour) this is the order that keeps the
    # explode linear in ACTIVE user-hours, not events
    pairs = ev.select(hour.alias("eh"), "user_id").distinct()
    # evaluation points this user-hour affects: its own hour + next 23
    pts = F.sequence(
        F.col("eh"), F.col("eh") + F.expr("INTERVAL 23 HOURS"), F.expr("INTERVAL 1 HOUR")
    )
    exploded = pairs.select(F.explode(pts).alias("h"), "user_id")
    # an evaluation point only exists if SOME event falls in its hour.
    # The hour spine is TIME-SPAN-bounded (8,760 rows/year) — broadcast
    # it so the semi-join is shuffle-free and the (h, user) distinct
    # partial-aggregates MAP-SIDE before the one exchange; the earlier
    # merge-hinted form shuffled every exploded row on h first
    # (r6 plan audit: the only pre-aggregation fact-scale sort left)
    hours = ev.select(hour.alias("h")).distinct()
    return (
        exploded.join(F.broadcast(hours), "h", "left_semi")
        .groupBy("h")
        .agg(F.count_distinct("user_id").cast("long").alias("dau"))
        .orderBy("h")
    )


@query(
    "anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, med,
             quantile_cont(abs(value - med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med
    )
    SELECT event_id, e.event_type, value,
           round((value - med) / NULLIF(1.4826 * mad, 0), 6) AS rscore
    FROM events e JOIN mad USING (event_type)
    WHERE abs((value - med) / NULLIF(1.4826 * mad, 0)) > 3.0
    ORDER BY event_id
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation: events
    more than 3 robust standard deviations (1.4826·MAD) from their
    type's MEDIAN — the robust twin of ``anomaly_zscore``, which a
    single extreme outlier cannot blind (outliers inflate mean/stddev
    and mask each other; median/MAD have a 50% breakdown point).

    Two exact-percentile passes (type-keyed, the ``winsorized_stats``
    idiom) whose tiny per-type results broadcast back onto one event
    scan — the scan is never shuffled. Both engines use the same
    interpolated percentile definition and identical double arithmetic,
    rounded to 6 dp. The documented scale swap is percentile_approx
    once per-type event volumes dwarf a task's sort budget."""
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    scored = ev.join(F.broadcast(mad), "event_type").withColumn(
        # NULLIF guard: a constant-valued (or singleton) type has MAD 0
        # — its rows null out and drop at the filter instead of raising
        # DIVIDE_BY_ZERO under ANSI mode (caught by the singleton sweep)
        "rscore",
        (F.col("value") - F.col("med"))
        / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)),
    )
    return (
        scored.filter(F.abs("rscore") > 3.0)
        .select("event_id", "event_type", "value", F.round("rscore", 6).alias("rscore"))
    )


@query(
    "abc_analysis",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                             AS DOUBLE) AS revenue
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
               / SUM(revenue) OVER () AS cum_share
      FROM rev
    )
    SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS klass,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) analysis: customers classified by cumulative revenue
    share — A carries the first 80%, B to 95%, C the tail — the
    concentration readout behind inventory policy and account tiering.

    The cumulative share needs a TOTAL order over per-customer revenue.
    That is a single-partition window, accepted here because the input
    is DIMENSION-sized (revenue per customer — already aggregated from
    the fact table with a partial-agg'd DECIMAL sum); the same pattern
    over fact-scale data must use the two-phase range-bucket ranking
    (``quantile_normalize``) — the distinction is documented, not
    discovered at OOM time. Revenue sums accumulate in DECIMAL both
    engines, so shares are bit-identical; the final classification is
    a 3-row aggregate."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w_cum = Window.orderBy(F.desc("revenue"), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    ranked = rev.select(
        "revenue",
        (F.sum("revenue").over(w_cum) / F.sum("revenue").over(w_all)).alias(
            "cum_share"
        ),
    )
    return (
        ranked.select(
            F.when(F.col("cum_share") <= 0.8, "A")
            .when(F.col("cum_share") <= 0.95, "B")
            .otherwise("C")
            .alias("klass"),
            "revenue",
        )
        .groupBy("klass")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double").alias(
                "revenue"
            ),
        )
        .orderBy("klass")
    )


@query(
    "funnel_weekly_trend",
    oracle="""
    WITH f AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS wk,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      FROM events GROUP BY user_id
    )
    SELECT wk,
           CAST(COUNT(*) FILTER (WHERE v IS NOT NULL) AS BIGINT) AS viewed,
           CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND c > v) AS BIGINT)
             AS clicked,
           CAST(COUNT(*) FILTER (WHERE v IS NOT NULL AND c > v AND p > c)
                AS BIGINT) AS purchased
    FROM f GROUP BY wk ORDER BY wk
    """,
)
def funnel_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-touch ordered funnel (``funnel_conversion``) as a
    TIME SERIES: users cohorted by first-seen week, per-cohort counts
    of view → click-after-view → purchase-after-click — how conversion
    health trends as acquisition changes, the report a growth team
    actually reads.

    Same skew-immune shape as the parent: conditional MINs per user
    (one partial-agg'd users-sized shuffle — ordering checks are
    timestamp comparisons on the aggregate, never joins or windows),
    then a weeks-sized rollup. Epoch-microsecond comparisons match the
    engines exactly."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("wk"),
        F.min(F.when(F.col("event_type") == "view", us)).alias("v"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p"),
    )
    viewed = F.col("v").isNotNull()
    clicked = viewed & (F.col("c") > F.col("v"))
    purchased = clicked & (F.col("p") > F.col("c"))
    return (
        f.groupBy("wk")
        .agg(
            F.count(F.when(viewed, True)).cast("long").alias("viewed"),
            F.count(F.when(clicked, True)).cast("long").alias("clicked"),
            F.count(F.when(purchased, True)).cast("long").alias("purchased"),
        )
        .orderBy("wk")
    )


def _dd_pctl(p: float) -> str:
    """DuckDB mirror of the shared interpolation formula in
    ``latency_percentile_bands`` — lo + (hi − lo)·f with idx = (n−1)·p,
    spelled operation-for-operation like the Spark side. The fraction
    literal is pinned ``::DOUBLE``: DuckDB parses ``0.99`` as an EXACT
    DECIMAL (so (n−1)·0.99 would be exact where Spark's double is not),
    and the interpolation must inherit the same float error to stay
    bit-identical."""
    pd_ = f"{p!r}::DOUBLE"
    idx = f"((len(arr) - 1) * {pd_})"
    lo1 = f"arr[CAST(floor({idx}) AS BIGINT) + 1]"
    hi1 = f"arr[CAST(floor({idx}) AS BIGINT) + 2]"
    return f"{lo1} + (coalesce({hi1}, {lo1}) - {lo1}) * ({idx} - floor({idx}))"


@query(
    "latency_percentile_bands",
    oracle=f"""
    WITH g AS (
      SELECT date_trunc('hour', ts) AS h,
             -- isfinite CASE inside the try_cast (round-10 review):
             -- DuckDB v1.0's TRY_CAST RAISES on NaN doubles instead
             -- of NULLing (the documented _dd_dec trap); Spark's
             -- try_cast is already NULL-on-NaN
             list_sort(list(value)
                       FILTER (WHERE CASE WHEN isfinite(value)
                                          THEN TRY_CAST(value AS DECIMAL(18,6))
                                     END IS NOT NULL)) AS arr,
             CAST(COUNT(CASE WHEN isfinite(value)
                             THEN TRY_CAST(value AS DECIMAL(18,6)) END)
                  AS BIGINT) AS n
      FROM events GROUP BY 1
    )
    SELECT h,
           {_dd_q4(_dd_pctl(0.5))} AS p50,
           {_dd_q4(_dd_pctl(0.9))} AS p90,
           {_dd_q4(_dd_pctl(0.99))} AS p99,
           n
    FROM g ORDER BY h
    """,
)
def latency_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability percentile bands: p50/p90/p99 of the metric per
    hour — the latency-dashboard rollup. Exact interpolated
    percentiles per hour-key (group sizes are events-per-hour, well
    inside a task's sort budget; the ``winsorized_stats`` idiom and
    its documented percentile_approx swap apply beyond that). One
    hour-keyed shuffle; percentiles round to 4 dp. For MERGEABLE
    cross-shard percentiles at fleet scale the sketch path is the
    answer (cf. ``hll_user_reach`` for the sketch posture).

    Round-10 hostile finds, three layers deep, all fixed by SHARED
    ARITHMETIC instead of trusting builtins: (1) Spark ``percentile``
    and DuckDB ``quantile_cont`` interpolate with formulas that differ
    in the last ulp — the interpolation is now spelled manually and
    identically on both sides (sorted in-domain array, idx = (n−1)·p,
    lo + (hi − lo)·f, fraction literals pinned ``::DOUBLE`` because
    DuckDB parses 0.99 as exact DECIMAL); (2) builtin round(·, 4)
    itself diverges — DuckDB's multiply-round-divide (and its
    double→DECIMAL cast) drift an ulp at 1e11+ magnitudes where
    Spark's BigDecimal round is exact — so the 4-dp quantizer is the
    explicit floor(x·1e4 + 0.5)/1e4, bit-identical by construction
    (halves toward +∞; −0.0 normalizes to +0.0 for free); (3) the
    metric domain is gated to DECIMAL(18,6) by try_cast per the
    poison-row rule — a 1e12 sentinel latency is a poisoned metric,
    not a percentile input — and ``n`` counts the cast column so the
    denominator matches the stats domain (the ADVICE r9 rule)."""
    ev = table(spark, sf_dir, "events")
    dec = F.col("value").try_cast("decimal(18,6)")
    g = (
        ev.select(
            F.date_trunc("hour", "ts").alias("h"),
            F.when(dec.isNotNull(), F.col("value")).alias("v"),
        )
        .groupBy("h")
        .agg(
            F.sort_array(F.collect_list("v")).alias("arr"),  # skips NULLs
            F.count("v").alias("n"),
        )
    )

    def pctl(p: float):
        nv = F.size("arr")
        idx = (nv - 1) * F.lit(p)
        lo = F.floor(idx).cast("long")
        v_lo = F.get("arr", lo)
        v_hi = F.coalesce(F.get("arr", lo + 1), v_lo)
        return v_lo + (v_hi - v_lo) * (idx - F.floor(idx))

    def q4(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    return g.select(
        "h",
        q4(pctl(0.5)).alias("p50"),
        q4(pctl(0.9)).alias("p90"),
        q4(pctl(0.99)).alias("p99"),
        F.col("n").cast("long").alias("n"),
    ).orderBy("h")


@query(
    "bounce_rate_daily",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid, ts
      FROM s
    ), per AS (
      SELECT user_id, sid, date_trunc('day', MIN(ts)) AS day,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS bounces,
           round(COUNT(*) FILTER (WHERE n_events = 1) * 1.0 / COUNT(*), 6)
             AS bounce_rate
    FROM per GROUP BY day ORDER BY day
    """,
)
def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: sessions (30-minute inactivity gaps, the
    ``event_session`` sessionizer) containing exactly one event, as a
    share of the day's sessions — the engagement-health headline
    metric.

    BALANCED-KEYS VARIANT: on whale-bearing keyspaces run
    ``bounce_rate_daily_salted`` (same oracle; 3.7× at 1000×-whale for
    a ~2.5× balanced premium — the sharpest trade of the four pairs,
    so audit key skew before choosing this form at scale); see
    SCALING.md "Salted forms are the production default".

    Composition discipline: the gap-based sessionizer is reused
    verbatim (lag → new-session flag → running sum, one user-keyed
    exchange feeding both windows), then session-sized and day-sized
    aggregates shrink monotonically. No join anywhere; the bounce
    predicate is a COUNT filter on the session aggregate. NULL-ts
    rows dropped on both sides (the ``event_session`` timeline
    contract, round-9 hostile sweep)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = s.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count("*").alias("n_events"),
    )
    bounces = F.count(F.when(F.col("n_events") == 1, True))
    return (
        per.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("sessions"),
            bounces.cast("long").alias("bounces"),
            F.round(bounces / F.count("*"), 6).alias("bounce_rate"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# drift_ks_test — two-sample distribution-drift monitor
# --------------------------------------------------------------------------

_KS_SPLIT = "2024-01-16"  # first half vs second half of the fixture month


@query(
    "drift_ks_test",
    oracle=f"""
    WITH pts AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{_KS_SPLIT}' THEN 1 ELSE 0 END AS is_a
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
    ), vals AS (
      SELECT event_type, value,
             CAST(SUM(is_a) AS DOUBLE) AS ca,
             CAST(SUM(1 - is_a) AS DOUBLE) AS cb
      FROM pts GROUP BY event_type, value
    ), cum AS (
      SELECT event_type,
             SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
             SUM(ca) OVER t AS n_a,  SUM(cb) OVER t AS n_b
      FROM vals
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS UNBOUNDED PRECEDING),
             t AS (PARTITION BY event_type)
    )
    SELECT event_type,
           round(MAX(abs(cum_a / NULLIF(n_a, 0) - cum_b / NULLIF(n_b, 0))), 6) AS ks_stat,
           CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b
    FROM cum GROUP BY event_type ORDER BY event_type
    """,
)
def drift_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event type between
    the first and second half of the event stream — the distribution-
    drift monitor a training-data pipeline runs before trusting a new
    snapshot (feature drift ⇒ re-validate before training).

    Exact D = max_x |F_a(x) − F_b(x)| without any pairwise work: counts
    pre-aggregate per (type, value) — tie-correct by construction —
    then ONE ordered cumulative window per type turns counts into both
    empirical CDFs simultaneously, and a max-aggregate takes D. One
    shuffle on event_type + a per-type sort; at 100 TB the sort is the
    cost, and the documented degrade is value-quantization (bucket the
    support) which bounds rows per type at the bucket count while
    keeping D exact on the quantized CDFs. Cumulative fractions are
    exact count ratios — both engines divide the same integers, so
    6-dp rounding is stable.

    NULL hygiene mirrors ``drift_ks_binned`` (round-8 review): a NULL
    ts would vanish from both Spark sample sums but land in the SQL
    CASE's sample B, and a NULL value would form a (type, NULL) group
    that Spark's window orders NULLS FIRST and DuckDB's NULLS LAST —
    shifting every cumulative prefix. Both classes are filtered on
    both sides."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    is_a = (F.col("ts") < F.lit(_KS_SPLIT).cast("timestamp")).cast("int")
    vals = (
        ev.select("event_type", "value", is_a.alias("is_a"))
        .groupBy("event_type", "value")
        .agg(
            F.sum("is_a").cast("double").alias("ca"),
            F.sum(1 - F.col("is_a")).cast("double").alias("cb"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(t).alias("n_a"),
        F.sum("cb").over(t).alias("n_b"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a") / F.nullif(F.col("n_a"), F.lit(0.0))
                        - F.col("cum_b") / F.nullif(F.col("n_b"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# time_weighted_avg — TWAP per user (holding-period weighting)
# --------------------------------------------------------------------------


@query(
    "time_weighted_avg",
    oracle="""
    WITH d AS (
      SELECT user_id, value,
             (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
              - epoch_us(ts)) / 1000000.0 AS dt
      FROM events
    )
    SELECT user_id,
           round(SUM(value * dt) / NULLIF(SUM(dt), 0), 6) AS twap,
           CAST(COUNT(*) AS BIGINT) AS n_weighted
    FROM d WHERE dt IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation weighted
    by its holding period (seconds until the user's next event; the
    final open-ended observation carries no weight) — the metrics/
    finance convention that makes irregularly-sampled series
    comparable, where a plain mean over-counts burst periods.

    One user-keyed exchange feeds a single LEAD window; weights are
    exact microsecond deltas scaled to seconds identically in both
    engines (micros arithmetic first, ONE division last). The weighted
    aggregate partial-combines, so fact-scale input shrinks to
    user-sized output at the map side — the scale posture of every
    per-key sweep in this family.

    BALANCED-KEYS VARIANT: the production default at scale is
    ``time_weighted_avg_salted`` (same oracle, ~1.25× balanced premium
    shrinking with scale, 11.3× on a 1000×-whale) — see SCALING.md
    "Salted forms are the production default"."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        "value",
        ((F.lead(us).over(w) - us) / 1_000_000.0).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        d.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt"))
                / F.nullif(F.sum("dt"), F.lit(0.0)),
                6,
            ).alias("twap"),
            F.count("*").cast("long").alias("n_weighted"),
        )
    )


@query(
    "time_weighted_avg_salted",
    oracle="""
    WITH d AS (
      SELECT user_id, value,
             (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
              - epoch_us(ts)) / 1000000.0 AS dt
      FROM events
    )
    SELECT user_id,
           round(SUM(value * dt) / NULLIF(SUM(dt), 0), 6) AS twap,
           CAST(COUNT(*) AS BIGINT) AS n_weighted
    FROM d WHERE dt IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def time_weighted_avg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``time_weighted_avg`` with the whale-key escape — same declared
    semantics, SAME oracle, but the event-scale LEAD window is keyed by
    ``(user_id, day)`` so a whale user's per-key sort splits across its
    active days.

    Why :func:`_day_bucketed` replication is NOT enough here: TWAP has
    no gap threshold, so an event's successor can live ANY number of
    empty days ahead — replicating each bucket's first event one bucket
    back (``n_back=1``) would lose every holding period that spans an
    empty day. The general recipe is the ``bounce_rate_daily_salted``
    two-level split, with the boundary carry computed on a SUMMARY
    table instead of replicated rows:

      1. Event scale, all (user, bkt)-keyed: within-bucket LEAD gives
         every row but the bucket's last its exact successor; a
         groupBy(user, bkt) MIN gives each bucket's first-event
         timestamp. The summary join back onto events is
         (user, bkt)-keyed too, so it reuses the window's exchange.
      2. Dimension scale (≤1 row per user-day): a user-keyed LEAD over
         the bucket summary supplies each bucket's NEXT-bucket first
         event — the true successor of the bucket's last row, however
         many empty days intervene (days sort integrally, so the next
         summary row IS the next non-empty bucket).

    The last own row's ``COALESCE(within-bucket lead, next bucket's
    first)`` is exact because all timestamps in the next non-empty
    bucket are ≥ its first event's — and the user's final event
    overall gets NULL from both sides, dropping exactly like the
    unsalted form's open-ended observation. Weighted sums then
    partial-combine map-side before the user-keyed merge of user-sized
    partials. Whale probe + balanced premium in SCALING.md."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.withColumn("bkt", F.expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
    wb = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    firsts = base.groupBy("user_id", "bkt").agg(F.min(us).alias("first_us"))
    nxt = firsts.select(
        "user_id", "bkt",
        F.lead("first_us").over(Window.partitionBy("user_id").orderBy("bkt")).alias("next_first_us"),
    )
    d = (
        base.withColumn("lead_us", F.lead(us).over(wb))
        .join(nxt, ["user_id", "bkt"])
        .select(
            "user_id",
            "value",
            ((F.coalesce("lead_us", "next_first_us") - us) / 1_000_000.0).alias("dt"),
        )
        .filter(F.col("dt").isNotNull())
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt"))
                / F.nullif(F.sum("dt"), F.lit(0.0)),
                6,
            ).alias("twap"),
            F.count("*").cast("long").alias("n_weighted"),
        )
    )


# --------------------------------------------------------------------------
# session_paths_topk — dominant 3-step behavior sequences
# --------------------------------------------------------------------------


@query(
    "session_paths_topk",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), paths AS (
      SELECT event_type || '>' || lead(event_type, 1) OVER p
                        || '>' || lead(event_type, 2) OVER p AS path
      FROM sess
      WINDOW p AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM paths WHERE path IS NOT NULL
    GROUP BY path ORDER BY cnt DESC, path LIMIT 10
    """,
)
def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths within 30-minute-gap sessions
    — the behavioral-sequence mining readout (which flows dominate)
    that feeds funnel design and next-event models.

    BALANCED-KEYS VARIANT: the production default at scale is
    ``session_paths_topk_salted`` (same oracle, ~2.5× balanced
    premium, 7.4× on a 1000×-whale) — see SCALING.md "Salted forms
    are the production default".

    Reuses the ``bounce_rate_daily`` sessionizer verbatim (lag →
    new-session flag → running sum; one user-keyed exchange), then two
    LEAD windows over (user, session) — which reuse the SAME sort — and
    a paths-cardinality groupBy (≤ |types|³ keys) into TakeOrdered-10.
    Deterministic under concurrent timestamps: every window orders by
    (ts, event_id). Nothing in the plan is corpus-sized after the
    first exchange. NULL-ts rows dropped on both sides (the
    ``event_session`` timeline contract, round-9 hostile sweep)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = s.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    p = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    paths = sess.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(p),
            F.lead("event_type", 2).over(p),
        ).alias("path"),
        F.lead("event_type", 2).over(p).alias("_third"),
    ).filter(F.col("_third").isNotNull())
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "path")
        .limit(10)
    )


def _day_bucketed(ev: DataFrame, n_back: int = 0, fwd: bool = False) -> DataFrame:
    """Whale-salting pad helper (VERDICT r6 "Next round" #3): re-key an
    event stream by ``(user_id, day-bucket)`` so no window is ever
    partitioned by bare ``user_id`` — one hyperactive user splits
    across as many tasks as active days, bounding per-task work by
    events/user/day.

    Its four consumers (``event_session_salted``,
    ``time_weighted_avg_salted``, ``session_paths_topk_salted``,
    ``bounce_rate_daily_salted``) are the PRODUCTION DEFAULT for
    per-user sequence work at scale (round 8, VERDICT r7 #4): each
    shares its unsalted twin's oracle, costs ≈none-2.5× on balanced
    keys, and wins 3.7-12.9× on a 1000×-whale where the unsalted form
    GC-thrashes. The decision table lives in SCALING.md "Salted forms
    are the production default".

    The time-split is exact for any gap-based sessionizer whose gap
    threshold (30 min) is smaller than the bucket width (1 day): a
    bucket with no replicated predecessor implies a session break, so
    ``lag IS NULL`` at a bucket start is indistinguishable from the
    true stream start. Boundary context is replicated, never shuffled
    globally:

      * ``fwd=True`` re-keys each bucket's LAST event into the next
        bucket (feeds a ``lag`` there — needed when the consumer reads
        the CURRENT row's gap flag, e.g. session-id assignment);
      * ``n_back=k`` re-keys each bucket's first ``k`` events into the
        previous bucket (feed ``lead(1..k)`` there).

    Replicas carry ``own = false``; consumers emit results for own
    rows only, so replicas add context, never counts. Requires
    ``user_id``, ``ts``, ``event_id`` columns; all other columns ride
    along. Cost: one extra exchange over ≤(k+1) boundary rows per
    (user, day)."""
    from pyspark.sql import Window

    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    base = ev.withColumn("bkt", day)
    out = base.withColumn("own", F.lit(True))
    if fwd:
        wd = Window.partitionBy("user_id", "bkt").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        out = out.unionByName(
            base.withColumn("_rnd", F.row_number().over(wd))
            .filter(F.col("_rnd") == 1)
            .drop("_rnd")
            .withColumn("bkt", F.col("bkt") + 1)
            .withColumn("own", F.lit(False))
        )
    if n_back:
        wa = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
        out = out.unionByName(
            base.withColumn("_rn", F.row_number().over(wa))
            .filter(F.col("_rn") <= n_back)
            .drop("_rn")
            .withColumn("bkt", F.col("bkt") - 1)
            .withColumn("own", F.lit(False))
        )
    return out


@query(
    "session_paths_topk_salted",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), paths AS (
      SELECT event_type || '>' || lead(event_type, 1) OVER p
                        || '>' || lead(event_type, 2) OVER p AS path
      FROM sess
      WINDOW p AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM paths WHERE path IS NOT NULL
    GROUP BY path ORDER BY cnt DESC, path LIMIT 10
    """,
)
def session_paths_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_paths_topk`` with the WHALE-KEY escape productized
    (VERDICT r5 "Next round" #6; SCALING.md whale table rule 2): same
    declared semantics and SAME oracle, but no window is ever
    partitioned by bare ``user_id`` — every window key is
    ``(user_id, day-bucket)``, so one hyperactive user splits across
    as many tasks as days, bounding per-task work by events/user/day.

    Why the time-split is exact, not approximate:

      * A 3-step path is valid iff the NEXT TWO events exist and
        neither starts a new session (gap > 30 min) — session IDs are
        never needed, only the NEXT TWO rows' gap-to-predecessor
        flags. The anchor row's own flag is never read, so no
        backward (``fwd``) replication is needed: only each bucket's
        first two events replicate into the previous bucket, feeding
        the two ``lead``s there (the pad_fwd branch the first cut
        carried was dead weight — ADVICE r6 — because the only flag
        it could change, the first own row's ``new_s``, is consumed
        by no own-row anchor).
      * Bucket width (1 day) > gap threshold (30 min), so a bucket
        with no replicated predecessor implies a session break —
        ``lag IS NULL`` ⇒ ``new_s = 1`` is CORRECT at bucket starts
        with an empty preceding bucket, exactly as at the true start.
      * Paths are emitted only for a row's home bucket, so replicas
        add context, never counts.

    Cost: one extra exchange over ≤2 boundary rows per (user, day)
    versus the unsalted form's single exchange — the price of whale
    immunity. Parity with the unsalted plan is pinned by
    tests/test_oracle_parity.py and a dedicated equivalence test."""
    from pyspark.sql import Window

    # NULL-ts rows dropped (the event_session timeline contract)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id", "ts", "event_id", "event_type"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    padded = _day_bucketed(ev, n_back=2)
    wp = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    flagged = padded.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(wp).isNull() | ((us - F.lag(us).over(wp)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    paths = flagged.select(
        "own",
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(wp),
            F.lead("event_type", 2).over(wp),
        ).alias("path"),
        (F.lead("new_s", 1).over(wp) + F.lead("new_s", 2).over(wp)).alias("_breaks"),
    ).filter(F.col("own") & (F.col("_breaks") == 0))
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "path")
        .limit(10)
    )


@query(
    "bounce_rate_daily_salted",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid, ts
      FROM s
    ), per AS (
      SELECT user_id, sid, date_trunc('day', MIN(ts)) AS day,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT day, CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS bounces,
           round(COUNT(*) FILTER (WHERE n_events = 1) * 1.0 / COUNT(*), 6)
             AS bounce_rate
    FROM per GROUP BY day ORDER BY day
    """,
)
def bounce_rate_daily_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bounce_rate_daily`` with the whale-key escape (VERDICT r6
    "Next round" #3): same declared semantics and SAME oracle, but the
    event-scale sessionizer windows are keyed by ``(user_id, day)``
    via :func:`_day_bucketed`, so one hyperactive user never
    serializes a task.

    Unlike ``session_paths_topk_salted`` this query needs whole
    sessions (count + min ts), and sessions cross midnight — so the
    split is a two-level plan:

      1. Per (user, day-bucket): compute gap flags (``fwd`` replica
         supplies the cross-midnight lag), then a bucket-local run id
         ``r`` (running sum of own-row session starts; ``r = 0`` ⇔
         the bucket's first event continues the previous day's last
         session). Aggregate each run to (count, min_ts) — the only
         event-scale shuffles, all (user, bkt)-keyed.
      2. Runs strictly inside a bucket (0 < r < max_r) are complete
         sessions → fold straight into per-day partials. Boundary
         runs (r = 0 or r = max_r, ≤2 rows per user-day) go to a
         DIMENSION-scale stitch: ordered by (bkt, r) per user, an
         r = 0 run always attaches to the immediately preceding row
         — its predecessor day's last run, which must exist because
         r = 0 requires a ≤30-min gap across midnight — so a running
         sum of "starts a chain" labels each cross-midnight session;
         each chain folds to one session row.

    The stitch window IS user-keyed, but over ≤2 rows per (user,
    active day) — a whale contributes days, not events, to that
    partition. Parity with the unsalted plan is pinned on the
    boundary corpus (midnight-spanning, lone-event-day, exact-30-min,
    whale, tie cases) in tests/test_plans.py."""
    from pyspark.sql import Window

    # NULL-ts rows dropped (the event_session timeline contract)
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id", "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    padded = _day_bucketed(ev, fwd=True)
    wp = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    flagged = padded.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(wp).isNull() | ((us - F.lag(us).over(wp)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    runs = (
        flagged.withColumn(
            "r",
            F.sum(F.when(F.col("own"), F.col("new_s")).otherwise(0)).over(
                wp.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter("own")
        .groupBy("user_id", "bkt", "r")
        .agg(F.count("*").alias("cnt"), F.min("ts").alias("min_ts"))
        .withColumn("max_r", F.max("r").over(Window.partitionBy("user_id", "bkt")))
    )
    day_of = F.date_trunc("day", F.col("min_ts")).alias("day")
    closed_daily = (
        runs.filter((F.col("r") >= 1) & (F.col("r") < F.col("max_r")))
        .groupBy(day_of)
        .agg(
            F.count("*").alias("s_part"),
            F.count(F.when(F.col("cnt") == 1, True)).alias("b_part"),
        )
    )
    ws = Window.partitionBy("user_id").orderBy("bkt", "r")
    chain_daily = (
        runs.filter((F.col("r") == 0) | (F.col("r") == F.col("max_r")))
        .withColumn(
            "chain",
            F.sum(F.when(F.col("r") == 0, 0).otherwise(1)).over(
                ws.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "chain")
        .agg(F.sum("cnt").alias("n_events"), F.min("min_ts").alias("min_ts"))
        .groupBy(day_of)
        .agg(
            F.count("*").alias("s_part"),
            F.count(F.when(F.col("n_events") == 1, True)).alias("b_part"),
        )
    )
    bounces = F.sum("b_part").cast("long")
    sessions = F.sum("s_part").cast("long")
    return (
        closed_daily.unionByName(chain_daily)
        .groupBy("day")
        .agg(
            sessions.alias("sessions"),
            bounces.alias("bounces"),
            F.round(bounces / sessions, 6).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@query(
    "event_session_salted",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def event_session_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``event_session`` with the whale-key escape (VERDICT r6 "Next
    round" #3 named it as a `_day_bucketed` consumer): same declared
    semantics and SAME oracle, but the sessionizer's lag window is
    keyed by ``(user_id, day-bucket)``, so one hyperactive user never
    serializes a task.

    This is the SIMPLEST consumer shape of the recipe — no stitch
    level is needed at all: the per-user rollup reads only each row's
    own gap flag (``SUM(new_s)`` counts session STARTS, and a start is
    a local decision given the predecessor event, which the ``fwd``
    replica supplies across midnight), and the final per-user
    aggregation is a hash groupBy whose map-side partials collapse a
    whale's rows before the shuffle — an agg is whale-safe where a
    window is not. One event-scale exchange, (user, bkt)-keyed; the
    only bare-user exchange carries ≤1 partial row per (user,
    partition). Parity with the unsalted plan is pinned on the
    boundary corpus in tests/test_plans.py. NULL-ts rows dropped on
    both sides (see ``event_session``)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id", "ts", "event_id"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    padded = _day_bucketed(ev, fwd=True)
    wp = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    flagged = padded.withColumn(
        "new_s",
        F.when(
            F.lag(us).over(wp).isNull() | ((us - F.lag(us).over(wp)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return (
        flagged.filter("own")
        .groupBy("user_id")
        .agg(
            F.sum("new_s").cast("bigint").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# value_histogram — fixed-width distribution summary per event type
# --------------------------------------------------------------------------

_HIST_BINS = 20


@query(
    "value_histogram",
    oracle=f"""
    WITH ext AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(LEAST(CAST(floor((value - vmin) / ((vmax - vmin) / {_HIST_BINS}.0))
                           AS BIGINT), {_HIST_BINS - 1}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN ext USING (event_type)
    WHERE vmax > vmin AND value IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of ``value`` per event type — the
    distribution summary every profiling/monitoring dashboard draws,
    and the quantized support that ``drift_ks_test``'s documented
    100 TB degrade buckets onto.

    Two scans: a tiny per-type extent aggregate BROADCAST back onto the
    event scan (the ``anomaly_zscore`` idiom — the big side is never
    shuffled for the join), then one partial-agg'd groupBy over at most
    |types| × 20 keys. The bin formula is spelled identically in both
    engines (subtract, divide by precomputed width, floor, clamp the
    vmax edge into the last bin), so bins match exactly; degenerate
    all-equal types drop out via the vmax > vmin guard rather than
    dividing by zero. NULL measurements are filtered explicitly: both
    engines' LEAST/least skip NULL arguments, so an unguarded NULL
    value would silently become a phantom observation in the top bin
    IN BOTH ENGINES — a wrong answer parity can never catch."""
    ev = table(spark, sf_dir, "events")
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = (
        ev.join(F.broadcast(ext), "event_type")
        .filter((F.col("vmax") > F.col("vmin")) & F.col("value").isNotNull())
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / float(_HIST_BINS))
                ).cast("long"),
                F.lit(_HIST_BINS - 1).cast("long"),
            ).alias("bin"),
        )
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("event_type", "bin")
    )


# --------------------------------------------------------------------------
# drift_ks_binned — KS drift on the quantized support (the 100 TB mode)
# --------------------------------------------------------------------------


@query(
    "drift_ks_binned",
    oracle=f"""
    WITH ext AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY event_type
    ), pts AS (
      SELECT e.event_type,
             LEAST(CAST(floor((value - vmin) / ((vmax - vmin) / {_HIST_BINS}.0))
                        AS BIGINT), {_HIST_BINS - 1}) AS bin,
             CASE WHEN ts < TIMESTAMP '{_KS_SPLIT}' THEN 1 ELSE 0 END AS is_a
      FROM events e JOIN ext USING (event_type)
      WHERE vmax > vmin AND value IS NOT NULL AND ts IS NOT NULL
    ), vals AS (
      SELECT event_type, bin,
             CAST(SUM(is_a) AS DOUBLE) AS ca,
             CAST(SUM(1 - is_a) AS DOUBLE) AS cb
      FROM pts GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type,
             SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b,
             SUM(ca) OVER t AS n_a,  SUM(cb) OVER t AS n_b
      FROM vals
      WINDOW w AS (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING),
             t AS (PARTITION BY event_type)
    )
    SELECT event_type,
           round(MAX(abs(cum_a / NULLIF(n_a, 0) - cum_b / NULLIF(n_b, 0))), 6) AS ks_stat,
           CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b
    FROM cum GROUP BY event_type ORDER BY event_type
    """,
)
def drift_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``drift_ks_test`` on the QUANTIZED support — the mandatory
    100 TB degrade SCALING.md has named since round 4, promoted to a
    real query (VERDICT r7 "Next round" #6). The exact KS's shuffle
    carries DISTINCT (type, value) rows; on real near-unique doubles
    that support grows linearly with the corpus, so the per-type sort
    goes event-sized. Here ``value`` is first quantized onto
    ``value_histogram``'s fixed-width {_HIST_BINS}-bin grid (identical
    formula: subtract vmin, divide by precomputed width, floor, clamp
    the vmax edge), and D is computed EXACTLY on the quantized CDFs —
    D_binned = max over bin boundaries of |F_a − F_b|, a lower bound
    of the exact D that converges as the grid refines, and the
    standard production drift monitor (alert thresholds are calibrated
    to the grid, not the raw support).

    Scale shape: the per-type extent aggregate broadcasts back onto
    the event scan (big side never shuffles for the join), the
    (type, bin) rollup partial-combines so the ONLY data-sized work is
    the map-side scan — shuffle rows are capped at |types| × {_HIST_BINS}
    per task, the cumulative windows run over a dimension-sized frame,
    and the degenerate all-equal guard (vmax > vmin) mirrors
    ``value_histogram``. Cumulative fractions are exact integer
    ratios in both engines, so 6-dp rounding is stable. 1000× probe
    (round 8): see SCALING.md — the (type, bin) shuffle stays
    dimension-sized where the exact KS's distinct-support shuffle goes
    event-sized.

    NULL hygiene (post-review hardening): ``value IS NULL`` rows are
    filtered in both engines — least()/LEAST skip NULLs identically,
    so an unguarded NULL would land as a phantom top-bin observation
    in BOTH engines and distort D with no parity failure. ``ts IS
    NULL`` rows are filtered too: Spark's ``(NULL < split)`` is NULL
    (dropped from BOTH sample sums) while SQL's CASE would route the
    row to sample B — the one place the two engines would otherwise
    read the same row differently."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    pts = (
        ev.join(F.broadcast(ext), "event_type")
        .filter(
            (F.col("vmax") > F.col("vmin"))
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / ((F.col("vmax") - F.col("vmin")) / float(_HIST_BINS))
                ).cast("long"),
                F.lit(_HIST_BINS - 1).cast("long"),
            ).alias("bin"),
            (F.col("ts") < F.lit(_KS_SPLIT).cast("timestamp"))
            .cast("int")
            .alias("is_a"),
        )
    )
    vals = pts.groupBy("event_type", "bin").agg(
        F.sum("is_a").cast("double").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("double").alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(t).alias("n_a"),
        F.sum("cb").over(t).alias("n_b"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a") / F.nullif(F.col("n_a"), F.lit(0.0))
                        - F.col("cum_b") / F.nullif(F.col("n_b"), F.lit(0.0))
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# burst_detection — aggregate-level traffic anomalies
# --------------------------------------------------------------------------

_BURST_Z = 2.0


@query(
    "burst_detection",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, h, cnt,
             AVG(cnt) OVER (PARTITION BY event_type) AS mu,
             STDDEV_SAMP(cnt) OVER (PARTITION BY event_type) AS sigma
      FROM hourly
    )
    SELECT event_type, h, CAST(cnt AS BIGINT) AS cnt,
           round((cnt - mu) / sigma, 6) AS z
    FROM stats
    WHERE sigma > 0 AND (cnt - mu) / sigma > {_BURST_Z}
    ORDER BY event_type, h
    """,
)
def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-burst detection at the AGGREGATE level: hours whose
    event count exceeds the type's hourly mean by more than 2 sample
    standard deviations — the ops-alarm complement to the row-level
    ``anomaly_zscore`` (a burst of individually-normal events is
    invisible row-by-row; it only shows in the rollup).

    The corpus shrinks FIRST: one partial-agg'd (type, hour) rollup
    (|types × hours| rows), then mean/stddev via windows OVER the
    rollup — the event scan is aggregated map-side and never re-read.
    Hourly counts are exact integers in both engines, so the z
    arithmetic agrees to 6 dp; degenerate constant-traffic types drop
    via the sigma > 0 guard."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("double").alias("cnt"))
    t = Window.partitionBy("event_type")
    stats = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.avg("cnt").over(t).alias("mu"),
        F.stddev_samp("cnt").over(t).alias("sigma"),
    )
    z = (F.col("cnt") - F.col("mu")) / F.col("sigma")
    return (
        stats.filter((F.col("sigma") > 0) & (z > _BURST_Z))
        .select(
            "event_type",
            "h",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(z, 6).alias("z"),
        )
        .orderBy("event_type", "h")
    )


# --------------------------------------------------------------------------
# user_overlap_jaccard — audience overlap between event types
# --------------------------------------------------------------------------


@query(
    "user_overlap_jaccard",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS sz FROM ut GROUP BY 1
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_common,
           sa.sz AS n_a, sb.sz AS n_b,
           round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter JOIN sizes sa ON inter.type_a = sa.event_type
               JOIN sizes sb ON inter.type_b = sb.event_type
    ORDER BY type_a, type_b
    """,
)
def user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: exact Jaccard of user sets
    for every type pair — the segmentation readout (do purchasers and
    error-reporters overlap?) and the same set-similarity kernel the
    dedup family applies to documents, here applied to behavior.

    The event stream collapses to DISTINCT (user, type) FIRST — the
    explode-then-dedupe discipline of ``sliding_distinct_users`` — so
    the self-join fans out at most |types| rows per user (bounded,
    structural: with T types a user contributes ≤ T(T−1)/2 pair rows).
    Intersections partial-agg to |types|² rows; set sizes are a
    |types|-row table joined twice at the end. At 100 TB the distinct
    is the only corpus-scale shuffle; everything after is
    dimension-sized."""
    ev = table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    # pinned: three consumers (both self-join sides + sizes) would each
    # re-run the corpus distinct otherwise — static-plan exchange reuse
    # does not fire across differently-shaped subtrees (the repo-wide
    # localCheckpoint rule); the pinned table is |users × types| rows
    sizes = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("sz"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("sz").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("sz").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "streaming_session_window",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    sess AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, session_end, n_events FROM sess
    WHERE session_end <= (SELECT MAX(ts) FROM events WHERE ts IS NOT NULL)
    ORDER BY user_id, session_start
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` on a REAL readStream with a watermark and an
    APPEND-mode sink — the production sessionization topology (user
    journeys over Kafka), where sessions are emitted exactly once, when
    the watermark proves no further event can extend them.

    This is the streaming twin of ``session_window_native`` under the
    append contract instead of that query's batch/complete one: with a
    0-second watermark delay, the final watermark after the backfill
    drains is the global max event time, and append mode emits exactly
    the sessions whose end (last event + 30-min gap) is ≤ that
    watermark. The one session still open at end-of-stream — the one
    containing the global max event, by construction — stays in state,
    unemitted. That cutoff is deterministic, so the oracle replays it
    as a scalar-subquery filter on the batch session reconstruction:
    the drained-static pattern that graduated the streaming dedups in
    round 9.

    NULL-ts contract: event-time assigners drop timestampless rows
    (SCALING.md; mirrored by WHERE ts IS NOT NULL). Scale shape: the
    stream shuffles once on user_id into session-merging state bounded
    by OPEN sessions only (closed ones are evicted at emission — this
    is why the watermark exists; the complete-mode twin's state holds
    every session ever seen and would OOM a month-long stream)."""
    from ..streaming.windows import events_stream

    src = events_stream(spark, f"{sf_dir}/events.parquet").withWatermark(
        "ts", "0 seconds"
    )
    agg = (
        src.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    from ..streaming.windows import run_drained

    # append mode: closed sessions emit in the watermark-advancing
    # no-data batch, so it stays ON; the state-partition knob (session
    # default 32 → min(4, task slots), see harness_state_partitions)
    # carries the whole measured win here (18.3 s → 3.6 s at 32 → 4,
    # same-contention).
    return run_drained(spark, agg, "append", "stream_session")


@query(
    "attribution_position_based",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL
    ), c AS (
      SELECT event_id AS click_id, user_id, event_type, us,
             min(CASE WHEN event_type = 'purchase'
                      THEN {'us': us, 'eid': event_id} END)
               OVER (PARTITION BY user_id ORDER BY us DESC
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS np
      FROM e
    ), j AS (
      SELECT click_id, user_id, us,
             np.eid AS purchase_id, np.us AS p_us
      FROM c
      WHERE event_type = 'click' AND np IS NOT NULL
        AND np.us - us <= 604800000000
    ), r AS (
      SELECT click_id, user_id, purchase_id,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY us, click_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY us DESC, click_id DESC) AS rn_d,
             COUNT(*) OVER (PARTITION BY purchase_id) AS n
      FROM j
    )
    SELECT purchase_id, click_id, user_id, CAST(n AS BIGINT) AS n_touches,
           round(CASE WHEN n = 1 THEN 1.0
                      WHEN n = 2 THEN 0.5
                      WHEN rn_a = 1 OR rn_d = 1 THEN 0.4
                      ELSE 0.2 / (n - 2) END, 6) AS credit
    FROM r ORDER BY purchase_id, click_id
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) conversion attribution: each
    purchase splits credit over the clicks that preceded it within a
    7-day horizon — 40% to the first touch, 40% to the last, the
    middle 20% evenly across the rest (1 touch → 100%, 2 → 50/50) —
    the multi-touch model marketers run next to last-touch
    (``attribution_last_touch``) to stop over-crediting the final
    click.

    The scale trick is assignment DIRECTION: attributing per purchase
    means materializing each purchase's click SET (a time-range
    self-join, quadratic on whale users — the wall
    ``attribution_last_touch``'s docstring measures). Instead every
    CLICK finds its NEXT purchase — min(struct(us, eid)) over a
    DESC-ordered unbounded frame, the same add-only incremental sweep
    as last-touch, linear per user — so each click emits at most one
    (purchase, click) row and total volume is |clicks|, not
    |purchases|·|clicks|. Per-purchase positions then come from
    purchase-keyed windows over exactly those rows. A click at the
    purchase's exact microsecond counts (RANGE frame peers, identical
    both engines); position ties break on click_id from both ends
    (rn_a on (us, id) ASC, rn_d on (us, id) DESC — with n ≥ 3 the same
    click can never be both first and last). Credits are exact
    rationals with ONE division, rounded once. NULL-ts events are
    excluded per the repo's timeline contract (an unplaceable touch
    can neither receive credit nor anchor a journey; mirrored
    ``WHERE ts IS NOT NULL``)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    np_ = F.min(
        F.when(
            F.col("event_type") == "purchase",
            F.struct(F.col("us").alias("us"), F.col("click_id").alias("eid")),
        )
    ).over(w_next)
    c = ev.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "event_type",
        us.alias("us"),
    ).withColumn("np", np_)
    j = c.filter(
        (F.col("event_type") == "click")
        & F.col("np").isNotNull()
        & ((F.col("np.us") - F.col("us")) <= 604_800_000_000)
    ).select(
        "click_id", "user_id", "us", F.col("np.eid").alias("purchase_id")
    )
    w_p = Window.partitionBy("purchase_id")
    rn_a = F.row_number().over(w_p.orderBy("us", "click_id"))
    rn_d = F.row_number().over(
        w_p.orderBy(F.col("us").desc(), F.col("click_id").desc())
    )
    r = j.select(
        "purchase_id",
        "click_id",
        "user_id",
        rn_a.alias("rn_a"),
        rn_d.alias("rn_d"),
        F.count("*").over(w_p).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn_a") == 1) | (F.col("rn_d") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return r.select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("n").cast("long").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS c,
             date_diff('day',
                       CAST(MAX(o_orderdate) AS DATE),
                       (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders
                        WHERE o_orderdate IS NOT NULL)) AS r,
             COUNT(*) AS f,
             COALESCE(SUM(TRY_CAST(o_totalprice AS DECIMAL(18,2))), 0) AS m
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_custkey
    ), vals AS (
      -- floor(m/1000) spelled identically both sides (round-10
      -- review): CAST(decimal AS BIGINT) truncates in Spark but
      -- ROUNDS in DuckDB, so a .5+ fraction at a ...999 boundary
      -- would band-shift one engine's customer
      SELECT c, r, f,
             CAST(floor(CAST(m AS DOUBLE) / 1000.0::DOUBLE) AS BIGINT)
               AS mb, m
      FROM cust
    ), n_t AS (SELECT COUNT(*) AS n FROM vals),
    rq AS (
      SELECT r AS v, SUM(COUNT(*)) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM vals GROUP BY r
    ), fq AS (
      SELECT f AS v, SUM(COUNT(*)) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM vals GROUP BY f
    ), mq AS (
      SELECT mb AS v, SUM(COUNT(*)) OVER (ORDER BY mb ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM vals GROUP BY mb
    ), seg AS (
      SELECT vals.c, vals.m,
             least((rq.cum * 5 + n.n - 1) // n.n, 5) AS r_q,
             least((fq.cum * 5 + n.n - 1) // n.n, 5) AS f_q,
             least((mq.cum * 5 + n.n - 1) // n.n, 5) AS m_q
      FROM vals
      JOIN rq ON rq.v = vals.r
      JOIN fq ON fq.v = vals.f
      JOIN mq ON mq.v = vals.mb
      CROSS JOIN n_t n
    )
    SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
           CAST(m_q AS BIGINT) AS m_q,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(m) AS DOUBLE) AS revenue
    FROM seg GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: every customer scored 1-5 on Recency
    (days since last order), Frequency (order count), and Monetary
    (revenue), then rolled up to segment cells — the classic marketing
    partition (R5F5M5 champions vs R1 lapsed) and, in a data pipeline,
    the stratification key for value-weighted sampling.

    The textbook formulation (NTILE(5) per dimension) is a corpus-sized
    single-partition sort THREE times over, and row-based NTILE splits
    ties arbitrarily — nondeterministic across engines. This plan uses
    tie-sharing quantile buckets via the quality_score_auc domain
    trick: per dimension, group by the VALUE, one cumulative window
    over that domain (days / order counts / thousand-dollar revenue
    bands — all bounded axes, corpus-size-independent), and bucket =
    ceil(5·cum/n) in exact integer arithmetic ((cum·5 + n−1) // n),
    capped at 5. Equal values land in the same bucket by construction,
    on both engines, with zero float ops before the final revenue sum.

    Monetary rides try_cast DECIMAL(18,2) sums (poison-row rule;
    out-of-domain prices drop from revenue, COALESCE'd so an
    all-poison customer keeps m = 0) and buckets on the thousand-
    dollar band so the quantile domain stays bounded at any corpus
    size. Dateless orders are excluded (timeline contract). Scale
    shape: one customers-sized partial agg, three domain-sized window
    passes joined back BROADCAST (each ≤ |domain| rows), one ≤125-cell
    final rollup."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    d_ = F.col("o_orderdate").cast("date")
    gmax = orders.agg(F.max(d_).alias("gd"))
    cust = (
        orders.crossJoin(F.broadcast(gmax))
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.datediff(F.max("gd"), F.max(d_)).alias("r"),
            F.count("*").alias("f"),
            F.coalesce(
                F.sum(F.expr("try_cast(o_totalprice AS DECIMAL(18,2))")),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("m"),
        )
    )
    vals = cust.select(
        "c", "r", "f", "m",
        F.floor(F.col("m").cast("double") / 1000.0).cast("long").alias("mb"),
    ).localCheckpoint()  # five consumers (count + 3 bucket frames +
    # the final join) — without pinning, each re-runs the orders scan
    # and the customer rollup (round-10 review)
    n = vals.count()  # bounded scalar (matches the oracle's COUNT(*) CTE)

    def bucket_frame(col: str, alias: str):
        """(value, bucket) for one dimension: cumulative count over the
        grouped value DOMAIN, bucket = ceil(5·cum/n) capped at 5 — the
        exact integer ceil-division form shared with the oracle."""
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        grouped = vals.groupBy(col).agg(F.count("*").alias("_c"))
        cum = F.sum("_c").over(w).alias("_cum")
        return grouped.select(F.col(col).alias(f"_{alias}_v"), cum).select(
            f"_{alias}_v",
            F.least(
                F.expr(f"(_cum * 5 + {n} - 1) div {n}"),
                F.lit(5).cast("long"),
            ).alias(alias),
        )

    rq = bucket_frame("r", "r_q")
    fq = bucket_frame("f", "f_q")
    mq = bucket_frame("mb", "m_q")
    seg = (
        vals.join(F.broadcast(rq), vals["r"] == rq["_r_q_v"])
        .join(F.broadcast(fq), vals["f"] == fq["_f_q_v"])
        .join(F.broadcast(mq), vals["mb"] == mq["_m_q_v"])
    )
    return (
        seg.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("m").cast("double").alias("revenue"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@query(
    "streaming_stream_left_join",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ), wm AS (
      -- both sides must have advanced for the global min-watermark to
      -- move at all (round-10 review): DuckDB least() IGNORES a NULL
      -- arm, but a purchase-free stream keeps Spark's global watermark
      -- at epoch 0 and nothing ever evicts — so a missing side means
      -- NULL (no null-row emission), not "the other side's max"
      SELECT CASE WHEN (SELECT MAX(click_ts) FROM c) IS NOT NULL
                   AND (SELECT MAX(purchase_ts) FROM p) IS NOT NULL
                  THEN least((SELECT MAX(click_ts) FROM c),
                             (SELECT MAX(purchase_ts) FROM p)) END AS w
    ), j AS (
      SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts < c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id FROM j
    WHERE purchase_id IS NOT NULL
       OR click_ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    ORDER BY click_id, purchase_id
    """,
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER join — the semantics the inner
    variant (``streaming_stream_join``) cannot give you: clicks that
    never convert still come out, as NULL-purchase rows, which is what
    funnel-drop and abandonment analyses actually consume. The
    streaming runtime emits a NULL row for an unmatched click only
    when the WATERMARK proves no qualifying purchase can still arrive
    (state eviction at click_ts + horizon) — the part of outer-join
    semantics that is genuinely streaming-specific.

    Over a finite drain that proof threshold is deterministic: the
    global watermark is the MIN of the two sides' per-source
    watermarks (Spark's multipleWatermarkPolicy=min default), so the
    final watermark is min(max click_ts, max purchase_ts) and the
    oracle replays the emission rule as a scalar-subquery cutoff —
    matched rows unconditionally, unmatched clicks iff click_ts +
    horizon < that watermark (strict bound pinned empirically: the
    click AT the watermark stays buffered). The two-sided twin of the
    ``streaming_session_window`` drained-static contract. NULL-ts
    events never match in batch and never watermark in the stream —
    consistent by construction on both sides.

    Scale shape: same watermark-bounded join state as the inner form
    (state is O(events per horizon), not O(stream)); the outer variant
    adds only the eviction-time null emission."""
    from ..streaming.joins import run_clicks_purchases_left_join

    return run_clicks_purchases_left_join(spark, f"{sf_dir}/events.parquet")


@query(
    "seasonality_dow",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             SUM(TRY_CAST(value AS DECIMAL(18,6))) AS s
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), dow AS (
      SELECT dayofweek(d) + 1 AS w, SUM(s) AS sw, COUNT(*) AS c
      FROM daily GROUP BY 1
    )
    SELECT daily.d AS day, CAST(dow.w AS BIGINT) AS dow,
           CAST(daily.s AS DOUBLE) AS total,
           floor((CAST(dow.sw AS DOUBLE) / dow.c)
                 * 1000000.0::DOUBLE + 0.5::DOUBLE)
             / 1000000.0::DOUBLE AS dow_mean,
           floor((CAST(daily.s AS DOUBLE) - CAST(dow.sw AS DOUBLE) / dow.c)
                 * 1000000.0::DOUBLE + 0.5::DOUBLE)
             / 1000000.0::DOUBLE AS resid
    FROM daily JOIN dow ON dayofweek(daily.d) + 1 = dow.w
    ORDER BY day
    """,
)
def seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily metric total:
    each day's value split into its weekday's mean (the seasonal
    component) and the residual — the naive-seasonal baseline every
    monitoring stack runs before alerting on traffic (a quiet Sunday
    is not an incident; a quiet Tuesday is), and the de-seasonalized
    residual feeds ``anomaly_zscore``-style detectors without the
    weekly sawtooth.

    Exact-arithmetic discipline: daily totals are order-free DECIMAL
    sums; the weekday means are one decimal-sum-over-count division in
    double, and the residual subtracts that identical double — single
    closed-form float ops both sides, quantized to 6 dp by the SHARED
    floor(x·1e6 + 0.5)/1e6 arithmetic (not builtin round, which drifts
    an ulp between the engines above ~1e10 — the
    latency_percentile_bands class; daily sums at 100 TB reach that
    magnitude).
    Weekday numbering is pinned to Spark's convention (1 = Sunday) via
    ``dayofweek(d) + 1`` on the DuckDB side (DuckDB counts Sunday as
    0). Out-of-DECIMAL-domain poison values drop via try_cast;
    NULL-ts events are unplaceable (timeline contract).

    Scale shape: one events-sized partial-agg'd groupBy to days, then
    every downstream frame is day-axis-sized (≤ span days) — the
    weekday rollup is ≤7 rows, broadcast back. Corpus touched once."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.sum(F.col("value").try_cast("decimal(18,6)")).alias("s"))
    )
    dow = (
        daily.groupBy(F.dayofweek("d").alias("w"))
        .agg(F.sum("s").alias("sw"), F.count("*").alias("c"))
    )
    mean = F.col("sw").cast("double") / F.col("c")
    return (
        daily.join(F.broadcast(dow), F.dayofweek(F.col("d")) == F.col("w"))
        .select(
            F.col("d").alias("day"),
            F.col("w").cast("long").alias("dow"),
            F.col("s").cast("double").alias("total"),
            (F.floor(mean * 1000000.0 + 0.5) / 1000000.0).alias("dow_mean"),
            (
                F.floor((F.col("s").cast("double") - mean) * 1000000.0 + 0.5)
                / 1000000.0
            ).alias("resid"),
        )
        .orderBy("day")
    )
