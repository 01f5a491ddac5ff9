"""Ordered-funnel analysis over event streams — the classic product
analytics question: of the users who did step 1, how many went on to do
step 2 strictly later, then step 3, ...

``funnel_steps`` computes each user's progress through an ordered list
of event types; ``funnel_counts`` rolls that into per-step user counts.

Semantics (deterministic, tie-robust):

- a user's events are walked in ``(ts, event_id)`` ascending order;
- step i+1 completes at the FIRST event of its type strictly after the
  event that completed step i (same-timestamp events resolve by
  ``event_id`` — pinned by a tie test, though real event streams rarely
  tie);
- with ``within`` (seconds), steps 2..k only count within that horizon
  of the step-1 event (the 'converted within 24h' variant).

Scale design: one shuffle on the user key into a per-user sorted event
array, then a single engine-native ``aggregate`` fold advancing a step
pointer — no joins, no per-step passes, no Python. The per-user array
is bounded by one user's activity (document the explode alternative if
a synthetic key ever aggregates millions of events under one user);
this is the same per-key working-set shape ``sessionize`` accepts. The
equivalent k-pass formulation (min-ts per step with a join per level)
multiplies scans by funnel depth — the fold reads the events once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fstd2pandas_spark.functions.timeutil import (ntz_epoch_us,
                                                  ntz_trunc)
from fstd2pandas_spark.memo import session_memo


def funnel_steps(df: DataFrame, steps: "list[str]", ts_col: str = "ts",
                 user_col: str = "user_id", type_col: str = "event_type",
                 id_col: str = "event_id",
                 within: "int | None" = None) -> DataFrame:
    """Per-user funnel progress: (user, depth, step_ts_us) where
    ``step_ts_us`` holds the unix-microsecond time of each completed
    step (``size == depth``). Users with depth 0 are kept (they exist
    in the events table but never did step 1).

    NULL-identity exclusion (round 16, the sessions.py contract): a
    NULL user key would pool every unidentified event into ONE
    pseudo-user whose "funnel" chains steps that never co-occurred —
    excluded explicitly, like sessionize.
    """
    ev, folded = _funnel_fold(steps, ts_col, type_col, id_col, within)
    grouped = (df.filter(F.col(user_col).isNotNull())
               .groupBy(F.col(user_col).alias("user")).agg(ev.alias("_ev")))
    return (
        grouped.withColumn("step_ts_us", folded).drop("_ev")
        .withColumn("depth", F.size("step_ts_us"))
    )


def _funnel_fold(steps: "list[str]", ts_col: str, type_col: str,
                 id_col: str, within: "int | None"):
    """The shared fold machinery: (sorted-events aggregate expression,
    fold-over-'_ev' Column) used by :func:`funnel_steps` and
    :func:`user_activity_report`. Memoized per Spark context on its
    parameters (:func:`~fstd2pandas_spark.memo.session_memo`): building
    these Column trees costs ~70 ms of py4j round trips per call, and
    Columns are immutable unresolved expressions — safe to reuse across
    DataFrames and queries of one context."""
    steps = tuple(steps)
    return session_memo(
        ("funnel_fold", steps, ts_col, type_col, id_col, within),
        lambda: _build_funnel_fold(steps, ts_col, type_col, id_col, within))


def _build_funnel_fold(steps: "tuple[str, ...]", ts_col: str,
                       type_col: str, id_col: str,
                       within: "int | None"):
    if not steps:
        raise ValueError("funnel: need at least one step")
    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    # With distinct step names the collected struct carries the step's
    # 1-based INDEX (int) instead of its name (string), and the fold
    # compares index == size(acc)+1 instead of name == wanted-name
    # (r18, guide §2.3 "shuffle fewer bytes / narrower types"): the
    # user-key exchange this aggregation feeds is the dominant shuffle
    # of the events pipeline at fact-table scale, and together with the
    # step-type pre-filter below the change measured -45% shuffle bytes
    # at sf0.1 (1,884,137 -> 1,034,237 B) for byte-identical output.
    # Duplicate step names (legal API input) fall back to the name
    # compare: array_position maps every duplicate to its FIRST index,
    # which would break the index equality.
    distinct = len(set(steps)) == len(steps)
    # TZ-independent wall-time epoch (round 17): unix_micros(NTZ->TZ
    # cast) routed the wall time through spark.sql.session.timeZone —
    # every step timestamp and `within` horizon silently shifted under
    # a non-UTC session (functions/timeutil.py)
    us = ntz_epoch_us(F.col(ts_col))
    # NULL-ts events are DROPPED (collect_list skips NULL entries) —
    # the streaming_funnel rule, which r14 closed on the stream side
    # only: an event with unknown time cannot establish temporal
    # order, but without `within` the fold's accept condition never
    # reads ts_us, so a NULL-ts event of the right type COMPLETED a
    # step (a NULL in step_ts_us), and as step 1 under `within` its
    # NULL horizon bound wedged every later step — the batch twin of
    # the streaming NaT wedge.
    # Non-step-typed (and NULL-typed) events are dropped the same way
    # (r18): the fold's accept predicate can never match them, so they
    # only ever ride through the shuffle to be skipped — at sf0.1 they
    # are ~40% of events. Exactness: a skipped element leaves acc
    # unchanged wherever it sorts, and dropping it cannot reorder the
    # others (sort_array is on (ts_us, eid, ...) with eid the
    # caller-declared tiebreaker).
    step_event = us.isNotNull() & F.col(type_col).isin(list(steps))
    if distinct:
        tag = F.array_position(
            steps_arr, F.col(type_col)).cast("int").alias("sidx")
    else:
        tag = F.col(type_col).alias("etype")
    ev = F.sort_array(F.collect_list(F.when(
        step_event,
        F.struct(
            us.alias("ts_us"),
            F.col(id_col).alias("eid"),
            tag,
        ))))

    def advance(acc, e):
        if distinct:
            ok = (F.size(acc) < k) & (e["sidx"] == F.size(acc) + 1)
        else:
            want = F.element_at(steps_arr, F.size(acc) + 1)
            ok = (F.size(acc) < k) & (e["etype"] == want)
        if within is not None:
            # CASE guard: when acc is empty the (size == 0) disjunct
            # decides, but BOTH operands of | are evaluated — an
            # unguarded element_at(acc, 1) works only because non-ANSI
            # Spark returns NULL out of bounds; under
            # spark.sql.ansi.enabled=true it throws INVALID_ARRAY_INDEX.
            # CaseWhen evaluates only the matched branch, so the lookup
            # never fires on an empty accumulator.
            bound = F.when(
                F.size(acc) > 0,
                F.element_at(acc, 1) + F.lit(int(within) * 1_000_000)
            ).otherwise(e["ts_us"])
            ok = ok & ((F.size(acc) == 0) | (e["ts_us"] <= bound))
        return F.when(ok, F.concat(acc, F.array(e["ts_us"]))).otherwise(acc)

    folded = F.aggregate(F.col("_ev"),
                         F.array().cast("array<bigint>"), advance)
    return ev, folded


#: period name -> length in days for the cohort helpers
_PERIOD_DAYS = {"week": 7, "day": 1}


def user_activity_report(df: DataFrame, steps: "list[str]",
                         ts_col: str = "ts", user_col: str = "user_id",
                         type_col: str = "event_type",
                         id_col: str = "event_id",
                         within: "int | None" = None,
                         period: str = "week") -> DataFrame:
    """Funnel progress AND retention-cohort inputs from ONE user-key
    shuffle: (user, step_ts_us, depth, cohort, periods).

    A pipeline that wants both :func:`funnel_steps` and
    :func:`retention_cohorts` would otherwise shuffle the events table
    by user twice — at fact-table scale the dominant cost. Here one
    ``groupBy(user)`` computes the sorted-event fold input, the
    first-activity period (min) and the distinct active-period set
    (collect_set, bounded by product lifetime in periods) together; the
    fold runs in the same projection. Feed the (users-sized) result to
    :func:`counts_from_steps` and :func:`cohorts_from_report` — with a
    ``localCheckpoint`` if more than one consumer reads it.
    """
    if period not in _PERIOD_DAYS:
        raise ValueError(f"unsupported period {period!r}")
    p = ntz_trunc(period, F.col(ts_col))  # TZ-free wall-time trunc
    # (round 17: date_trunc itself session-TZ-casts NTZ input)
    ev, folded = _funnel_fold(steps, ts_col, type_col, id_col, within)
    # NULL-identity exclusion (round 16, the sessions.py contract): a
    # NULL user key pools unrelated unidentified events into one
    # pseudo-user's funnel/cohort — excluded explicitly
    grouped = (df.filter(F.col(user_col).isNotNull())
               .groupBy(F.col(user_col).alias("user")).agg(
        ev.alias("_ev"),
        F.min(p).alias("cohort"),
        F.collect_set(p).alias("periods")))
    return (
        grouped.withColumn("step_ts_us", folded).drop("_ev")
        # the period rides WITH the report so cohorts_from_report can
        # never be applied with a mismatched period length
        .withColumns({"depth": F.size("step_ts_us"),
                      "_period_days":
                      F.lit(_PERIOD_DAYS[period]).cast("int")})
    )


def cohorts_from_report(report: DataFrame) -> DataFrame:
    """The rollup half of :func:`retention_cohorts`, over an existing
    per-user (cohort, periods, _period_days) frame —
    :func:`user_activity_report` consumers reuse the one user shuffle
    instead of re-aggregating the events. The period length comes from
    the report's own ``_period_days`` column (stamped by the producer),
    so a caller cannot silently divide week-truncated periods by a
    day-sized offset. Returns (cohort, period_offset, n_users)."""
    if "_period_days" not in report.columns:
        raise ValueError(
            "cohorts_from_report: report lacks _period_days — build it "
            "with user_activity_report/retention_cohorts")
    return (
        report.select("cohort", "_period_days",
                      F.explode("periods").alias("p"))
        .groupBy("cohort",
                 (F.floor(F.datediff(F.col("p"), F.col("cohort"))
                          / F.col("_period_days"))).cast("long")
                 .alias("period_offset"))
        .agg(F.count("*").alias("n_users"))
    )


def funnel_counts(df: DataFrame, steps: "list[str]", ts_col: str = "ts",
                  user_col: str = "user_id", type_col: str = "event_type",
                  id_col: str = "event_id",
                  within: "int | None" = None) -> DataFrame:
    """Funnel rollup: one row per step — (step_idx, step_name,
    n_users) with n_users = users whose depth reached that step.
    The per-step counts come from ONE 1-row aggregate unpivoted with
    ``stack`` — never k passes over the events.
    """
    per_user = funnel_steps(df, steps, ts_col, user_col, type_col,
                            id_col, within)
    return counts_from_steps(per_user, steps)


def counts_from_steps(per_user: DataFrame,
                      steps: "list[str]") -> DataFrame:
    """The rollup half of :func:`funnel_counts`, over an existing
    :func:`funnel_steps` result — callers that need BOTH per-user depth
    and the rollup reuse one shuffle instead of refolding the events.

    Built from Column expressions, not interpolated SQL (step names are
    arbitrary caller strings — quotes must not break the plan), and
    sums coalesce to 0 so an empty events slice yields zero counts,
    matching the oracle's ``count(*)`` semantics."""
    aggs = [F.coalesce(F.sum((F.col("depth") >= i + 1).cast("long")),
                       F.lit(0).cast("long")).alias(f"_s{i}")
            for i in range(len(steps))]
    one = per_user.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(i + 1).alias("step_idx"),
                 F.lit(s).alias("step_name"),
                 F.col(f"_s{i}").alias("n_users"))
        for i, s in enumerate(steps)])
    return (one.select(F.explode(rows).alias("r"))
            .select("r.step_idx", "r.step_name", "r.n_users"))


def retention_cohorts(df: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id",
                      period: str = "week") -> DataFrame:
    """Cohort retention — the other classic product-analytics rollup:
    users grouped by their first-activity period (the cohort), counted
    in every later period they return: (cohort, period_offset,
    n_users) with offset in periods since the cohort period.

    Shape: TWO shuffles total and no join — one user-key aggregation
    computes first-activity AND the distinct active-period set together
    (collect_set, map-side combined; bounded by periods-per-user, i.e.
    product lifetime, not activity volume), then the exploded
    (cohort, offset) rows count with a plain count(*) — each user
    contributes each period at most once by construction, so no
    count-distinct expand. All exact integer/date arithmetic —
    oracle-friendly. The distinct+self-join formulation costs two more
    shuffles and a join and returns the same rows."""
    if period not in _PERIOD_DAYS:
        raise ValueError(f"unsupported period {period!r}")
    p = ntz_trunc(period, F.col(ts_col))  # TZ-free wall-time trunc
    # (round 17: date_trunc itself session-TZ-casts NTZ input)
    per_user = (
        df.select(F.col(user_col).alias("user"), p.alias("p"))
        .groupBy("user")
        .agg(F.min("p").alias("cohort"), F.collect_set("p").alias("periods"))
        .withColumn("_period_days",
                    F.lit(_PERIOD_DAYS[period]).cast("int"))
    )
    return cohorts_from_report(per_user)
