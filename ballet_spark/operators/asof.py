"""Point-in-time (as-of) join — the engine's most important custom
operator (SURVEY.md §2.6, §4.1).

Spark has no native as-of join. Two strategies:

- :func:`asof_join` — **union-and-window**: tag both sides, union on a
  widened schema, and ``last(value, ignorenulls=True)`` over
  ``partitionBy(entity) orderBy(ts, side)``. One hash exchange + one
  sort, O(n log n) per partition, no row explosion — this is the
  scalable sort-merge-style path for two large inputs. Tie-breaking:
  the right (feature) side sorts BEFORE the probe side at equal
  timestamps, so same-instant data is included ("data strictly after
  the as-of timestamp is excluded"), matching pandas
  ``merge_asof(allow_exact_matches=True)`` and ballet's
  fit-on-train inclusivity (SURVEY.md §7 hard parts).
- :func:`asof_join_broadcast` — for a SMALL right side: broadcast one
  time-sorted history array per entity and pick the latest eligible
  element per probe row. No shuffle of the big probe side at all; the
  right plan when joining a large probe table against a compact
  per-entity history.

Leakage: both strategies can only look backward; a probe row can never
see right-side rows with ``right_ts > left_ts``.

The reference has no distributed analog — this generalizes pandas index
alignment between fit/transform frames (ballet/pipeline.py:93-117,
docs/feature_engineering_guide.rst:124-127) to event-time correctness.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "url",
    left_ts: str = "ts",
    right_ts: str = "warc_ts",
    value_cols: Sequence[str] | None = None,
    tolerance_s: int | None = None,
    suffix: str = "",
) -> DataFrame:
    """For each left row, attach ``value_cols`` from the latest right
    row of the same entity with ``right_ts <= left_ts``.

    Returns all left columns + matched value columns (suffixed) +
    ``__matched_ts`` (timestamp of the matched right row, NULL if no
    match / outside tolerance).
    """
    from pyspark.sql.types import StructField, StructType, TimestampType

    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]
    value_cols = list(value_cols)
    _check_collisions(left, value_cols, suffix)
    # a right row with NULL event time can never be "the latest as of
    # t": filter up front so both paths (window, broadcast)
    # share the semantic — NULLS FIRST ordering would otherwise park
    # such rows at the start of the window path's frame and
    # last(ignorenulls) would surface values of unknown time
    # (leakage), diverging from the broadcast path's __hts <= lts
    right = right.where(F.col(right_ts).isNotNull())

    left_cols = [c for c in left.columns if c not in (on, left_ts)]
    left_types = dict(left.dtypes)

    # MATCHED-ROW semantics: the right row's (ts, values) travel as ONE
    # struct, so a NULL field in the matched (latest) row stays NULL —
    # per-column last(ignorenulls) would resurrect that field from an
    # OLDER right row, diverging from merge_asof and from the broadcast
    # path. The struct also makes same-instant ties deterministic: the
    # window orders by (__ts, __side, __vals), so among equal-ts right
    # rows the max value tuple wins — exactly what the broadcast path's
    # sort_array + element_at(-1) picks.
    # __mts carries right_ts's ORIGINAL type when the two ts columns
    # share a type (the same pass-through rule as __ts below): an
    # unconditional cast("timestamp") would throw under ANSI (or
    # silently NULL in legacy mode) for same-typed non-ISO string
    # timestamps, e.g. 14-digit WARC stamps
    same_ts_type = left.schema[left_ts].dataType == right.schema[right_ts].dataType
    mts_type = (
        right.schema[right_ts].dataType if same_ts_type else TimestampType()
    )
    vals_type = StructType(
        [StructField("__mts", mts_type)]
        + [StructField(v, right.schema[v].dataType) for v in value_cols]
    )
    # order on a COMMON __ts type: when the two ts columns' types
    # differ, unionByName would coerce (e.g. timestamp ∪ string →
    # string) and the as-of ordering silently turns lexicographic —
    # cast both to timestamp instead. The probe's ORIGINAL left_ts
    # column is carried through untouched either way. The cast is
    # CHECKED (try_cast + explicit raise): a non-ISO string stamp on
    # one side of a mixed-type pair would otherwise throw an opaque
    # CAST_INVALID_INPUT mid-job under ANSI or silently NULL (and
    # match nothing) in legacy mode — same failure class as the
    # tolerance path below.
    def _ordering_ts(col, what):
        ts = col.try_cast("timestamp")
        return (
            F.when(
                col.isNotNull() & ts.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "asof_join: cross-type as-of ordering needs "
                            f"timestamp-castable ts columns; {what} value '"
                        ),
                        col.cast("string"),
                        F.lit(
                            "' cannot be cast to timestamp — align the two "
                            "ts columns' types first"
                        ),
                    )
                ).cast("timestamp"),
            )
            .otherwise(ts)
        )

    lts = F.col(left_ts) if same_ts_type else _ordering_ts(F.col(left_ts), left_ts)
    rts = (
        F.col(right_ts)
        if same_ts_type
        else _ordering_ts(F.col(right_ts), right_ts)
    )

    l2 = left.select(
        F.col(on),
        lts.alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(left_ts).alias("__lts"),
        *[F.col(c) for c in left_cols],
        F.lit(None).cast(vals_type).alias("__vals"),
    )
    r2 = right.select(
        F.col(on),
        rts.alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(left_types[left_ts]).alias("__lts"),
        *[F.lit(None).cast(left_types[c]).alias(c) for c in left_cols],
        F.struct(
            rts.alias("__mts"),
            *[F.col(v).alias(v) for v in value_cols],
        ).alias("__vals"),
    )

    unioned = l2.unionByName(r2)
    # side=0 (right) sorts before side=1 (probe) at equal __ts ⇒ a probe
    # row sees same-instant right rows (inclusive as-of).
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__vals"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*", F.last(F.col("__vals"), ignorenulls=True).over(w).alias("__m")
    )

    probe = filled.filter(F.col("__side") == 1)
    m = F.col("__m")
    if tolerance_s is not None:
        # cast("double") keeps sub-second precision (fixture timestamps
        # carry microseconds) and matches the oracle's exact epoch();
        # unix_timestamp would floor to whole seconds and misclassify
        # gaps near the tolerance boundary
        # __mts may carry the right_ts ORIGINAL type (same-type
        # pass-through above) — e.g. timestamp_ntz, which cannot cast
        # straight to double; route through timestamp first.
        # try_cast + explicit raise: the same-type pass-through also
        # admits non-ISO string stamps (14-digit WARC stamps), where a
        # plain cast throws an opaque CAST_INVALID_INPUT mid-job under
        # ANSI or silently NULLs (matching nothing) in legacy mode —
        # tolerance over a non-castable stamp is a caller error and
        # must say so
        def _to_epoch(col, what):
            ts = col.try_cast("timestamp")
            return (
                F.when(
                    col.isNotNull() & ts.isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "asof_join: tolerance_s requires "
                                f"timestamp-castable ts columns; {what} "
                                "value '"
                            ),
                            col.cast("string"),
                            F.lit(
                                "' cannot be cast to timestamp — compare "
                                "on a real timestamp column or drop "
                                "tolerance_s"
                            ),
                        )
                    ).cast("timestamp"),
                )
                .otherwise(ts)
                .cast("double")
            )

        in_tol = (
            _to_epoch(F.col("__ts"), left_ts)
            - _to_epoch(m["__mts"], right_ts)
        ) <= F.lit(float(tolerance_s))
        m = F.when(in_tol, F.col("__m"))

    return probe.select(
        F.col(on),
        F.col("__lts").alias(left_ts),
        *[F.col(c) for c in left_cols],
        *[m[v].alias(f"{v}{suffix}") for v in value_cols],
        m["__mts"].alias("__matched_ts"),
    )


def _check_collisions(left: DataFrame, value_cols, suffix: str) -> None:
    """Fail loudly when the suffixed value columns would duplicate a
    left column name — a silent duplicate makes every later by-name
    reference raise AMBIGUOUS_REFERENCE far from the cause. Also
    covers the join's own output/internal names: chaining as-of joins
    (a left side still carrying __matched_ts from a prior join, or
    value_cols including one) would otherwise emit duplicate
    __matched_ts columns that fail far from the cause."""
    dup = {f"{v}{suffix}" for v in value_cols} & set(left.columns)
    if dup:
        raise ValueError(
            f"right value column(s) {sorted(dup)} collide with left "
            f"columns; pass suffix= (or value_cols=) to disambiguate"
        )
    internal = {"__ts", "__side", "__vals", "__lts", "__m", "__matched_ts"}
    bad = internal & set(left.columns)
    if bad:
        raise ValueError(
            f"asof join reserves column name(s) {sorted(bad)} on the "
            "left side; drop or rename them first (e.g. the "
            "__matched_ts of a previous as-of join)"
        )
    bad_v = internal & set(value_cols)
    if bad_v:
        raise ValueError(
            f"value_cols may not include reserved name(s) {sorted(bad_v)}; "
            "rename them on the right side first"
        )


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: str = "url",
    left_ts: str = "ts",
    right_ts: str = "warc_ts",
    value_cols: Sequence[str] | None = None,
    tolerance_s: int | None = None,
    suffix: str = "",
) -> DataFrame:
    """Broadcast as-of, genuinely shuffle-free on the probe side: the
    right table collapses to ONE row per entity holding its time-sorted
    history as an array of structs; that compact table broadcasts, and
    each probe row picks the latest element with ``ts <= left_ts`` via
    a pure higher-order expression — no range-join row explosion, no
    per-probe-row re-aggregation, no exchange anywhere on the left.

    Same inclusive tie semantics as :func:`asof_join` (same-instant
    right rows match; equal-ts right rows resolve to the one that sorts
    last, matching the window path's last-in-order). ``__matched_ts``
    is emitted as timestamp, schema-identical to :func:`asof_join`, so
    the skew splitter can union the two paths. NULL entity keys match
    nothing on this path (equi-join semantics) — route them through the
    window path, as :func:`ballet_spark.plans.skew.asof_join_skew`
    does."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]
    value_cols = list(value_cols)
    _check_collisions(left, value_cols, suffix)
    # a right row with NULL event time can never be "the latest as of
    # t": filter up front so both paths (window, broadcast)
    # share the semantic — NULLS FIRST ordering would otherwise park
    # such rows at the start of the window path's frame and
    # last(ignorenulls) would surface values of unknown time
    # (leakage), diverging from the broadcast path's __hts <= lts
    right = right.where(F.col(right_ts).isNotNull())

    hist = right.groupBy(F.col(on)).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(right_ts).cast("timestamp").alias("__hts"),
                    *[F.col(v).alias(v) for v in value_cols],
                )
            )
        ).alias("__hist")
    )
    joined = left.join(F.broadcast(hist), on, "left")
    lts = F.col(left_ts).cast("timestamp")
    elig = F.filter(F.col("__hist"), lambda s: s["__hts"] <= lts)
    if tolerance_s is not None:
        elig = F.filter(
            elig,
            lambda s: (lts.cast("double") - s["__hts"].cast("double"))
            <= F.lit(float(tolerance_s)),
        )
    # guard the empty/NULL case explicitly: ANSI mode (Spark 4 default)
    # makes element_at(-1) on an empty array an error, not NULL
    m = F.when(
        F.coalesce(F.size(elig), F.lit(0)) > 0, F.element_at(elig, -1)
    )
    return joined.select(
        *[F.col(c) for c in left.columns],
        *[m[v].alias(f"{v}{suffix}") for v in value_cols],
        m["__hts"].alias("__matched_ts"),
    )
