"""As-of join — the time-series join Spark lacks natively.

Semantics (backward, inclusive): for each left row, attach the right row
with the greatest ``right_ts ≤ left_ts`` within the same key — "the last
quote at or before this trade". The reference's domain (market data)
lives on this join; DuckDB/kdb/Pandas have it built in, Spark does not.

Spark-first construction — NO per-row Python, NO range explosion:

  1. tag both sides and ``unionByName`` them (right rows sorted before
     left rows at equal timestamps so 'inclusive' holds);
  2. one window per key ordered by (ts, side):
     ``last(right_payload, ignoreNulls=True)`` carries the most recent
     right values forward onto every subsequent left row;
  3. keep left rows.

Cost: exactly one shuffle (hash by key) + per-partition sort — identical
to what a native as-of physical operator would do, and strictly better
than the naive ``left ⋈ right ON key AND r.ts <= l.ts`` + argmax
(quadratic per key). At 100 TB: keys partition hash-uniformly; a single
hot key (one coin = most of the tape) is handled by time-bucketing the
key upstream (join on (key, ts_bucket) with the previous bucket's last
value unioned in) — same trick, one extra column.

The three variants (backward / forward / nearest) share one tag-and-union
scaffold (``_tag_union``): payload defaulting + validation, the typed
null-struct cast for left rows, and the side ordering are written once so
a fix cannot drift between variants (round-2 review finding).
"""

from __future__ import annotations

import datetime
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Strict "<int> <unit>" (optionally several space-separated pairs, e.g.
# "1 hour 30 minutes") — the only shape ever interpolated into an
# INTERVAL literal. Anything else raises BEFORE reaching F.expr, so a
# caller-tainted string cannot become an arbitrary expression fragment
# (ADVICE r3: expression-level injection hardening).
_TOLERANCE_RE = re.compile(
    r"^\s*\d+\s+(?:microsecond|millisecond|second|minute|hour|day|week)s?"
    r"(?:\s+\d+\s+(?:microsecond|millisecond|second|minute|hour|day|week)s?)*\s*$",
    re.IGNORECASE,
)


def _tolerance_interval(tolerance: str | datetime.timedelta) -> Column:
    """Validate a staleness tolerance and return it as an interval Column.

    Accepts a ``datetime.timedelta`` (preferred — no parsing at all) or a
    strict ``"<int> <unit>"`` string; rejects everything else loudly.
    """
    if isinstance(tolerance, datetime.timedelta):
        return F.lit(tolerance)
    if not _TOLERANCE_RE.match(tolerance):
        raise ValueError(
            "asof_join tolerance must be a datetime.timedelta or a strict "
            f"'<int> <unit>' interval string, got {tolerance!r}"
        )
    return F.expr(f"INTERVAL {tolerance}")


def _resolve_payload(
    right: DataFrame, keys: Sequence[str], right_ts: str, right_payload: Sequence[str]
) -> list[str]:
    if not right_payload:
        right_payload = [
            c for c in right.columns if c not in keys and c != right_ts
        ]
    if not right_payload:
        raise ValueError(
            "as-of join needs at least one right payload column "
            "(right side has only keys + timestamp); the generated "
            "struct<> cast would be unparseable"
        )
    return list(right_payload)


def _tag_union(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    left_side: int,
    include_rts: bool,
) -> tuple[DataFrame, list[str]]:
    """Union of tagged left/right rows ordered for one as-of scan.

    ``left_side`` is the left rows' sort value at equal timestamps
    (right rows always carry ``1 - left_side``): 1 → right rows sort
    first (backward-inclusive), 0 → left rows sort first
    (forward-inclusive). ``include_rts`` prepends the right timestamp to
    the carried struct (the nearest variant needs it to compute |Δt|).
    Returns (union, left_columns)."""
    # "_rts"/"_ats"/"_side"/"_p" are reserved scan columns; a payload or
    # left column with one of those names would produce duplicate struct
    # fields / ambiguous resolution downstream (`_back._rts`), silently
    # corrupting the carry. Fail fast instead.
    reserved = {"_ats", "_side", "_p"} | ({"_rts"} if include_rts else set())
    clash = (reserved & set(right_payload)) | (reserved & set(left.columns))
    if clash:
        raise ValueError(
            f"as-of join reserves column names {sorted(reserved)}; "
            f"rename conflicting column(s) {sorted(clash)} first"
        )
    fields = ([("_rts", right_ts)] if include_rts else []) + [
        (c, c) for c in right_payload
    ]
    payload_struct = F.struct(
        *[F.col(src).alias(name) for name, src in fields]
    )
    struct_type = (
        "struct<"
        + ",".join(
            f"{name}:{right.schema[src].dataType.simpleString()}"
            for name, src in fields
        )
        + ">"
    )
    lcols = list(left.columns)
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("_ats"),
        F.lit(left_side).alias("_side"),
        F.lit(None).cast(struct_type).alias("_p"),
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_ats"),
        F.lit(1 - left_side).alias("_side"),
        payload_struct.alias("_p"),
    )
    return l_tagged.unionByName(r_tagged), lcols


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: Sequence[str] = (),
    tolerance: str | datetime.timedelta | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join. Returns every left row plus
    ``<payload>_right`` columns from the latest right row at or before
    its timestamp (nulls when no right row precedes it).

    ``tolerance`` (a ``datetime.timedelta`` or a strict ``"<int> <unit>"``
    interval string like ``"15 minutes"`` — pandas
    ``merge_asof(tolerance=...)`` parity) bounds the allowed staleness:
    a carried match older than ``left_ts - tolerance`` is nulled out, as
    if no right row preceded the left row. Same single shuffle + sort;
    the freshness check is a per-row expression on the carried right
    timestamp.

    The whole right row travels as ONE nullable struct: per-column
    last(ignoreNulls) would skip a legitimately-NULL payload value and
    stitch columns from different right rows; a single struct guarantees
    every payload column comes from the same, truly-latest right row
    (and its NULLs are carried as NULLs). "_p" as the final sort key is
    the deterministic tie-break among right rows sharing (key, ts): the
    lexicographically-greatest payload wins, independent of partitioning
    or arrival order."""
    right_payload = _resolve_payload(right, keys, right_ts, right_payload)
    u, lcols = _tag_union(
        left, right, keys, left_ts, right_ts, right_payload,
        left_side=1, include_rts=tolerance is not None,
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_ats", "_side", "_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *lcols,
        "_side",
        F.last("_p", ignorenulls=True).over(w).alias("_carry"),
    )
    out = carried.filter(F.col("_side") == 1)
    if tolerance is None:
        return out.select(
            *lcols,
            *[F.col(f"_carry.{c}").alias(f"{c}_right") for c in right_payload],
        )
    fresh = F.col("_carry._rts") >= (
        F.col(left_ts) - _tolerance_interval(tolerance)
    )
    return out.select(
        *lcols,
        *[
            F.when(fresh, F.col(f"_carry.{c}")).alias(f"{c}_right")
            for c in right_payload
        ],
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: Sequence[str] = (),
) -> DataFrame:
    """Forward-inclusive as-of join: every left row plus the payload of
    the EARLIEST right row at or after its timestamp ("the next quote
    at or after this trade"). Mirror of :func:`asof_join` — same single
    shuffle + sort; the carry runs over the FOLLOWING frame with
    ``first(ignoreNulls)``, and left rows sort before right rows at
    equal timestamps so 'inclusive' holds. Tie-break among right rows
    sharing (key, ts): lexicographically-smallest payload (the
    ascending twin of the backward join's greatest-payload rule).
    """
    right_payload = _resolve_payload(right, keys, right_ts, right_payload)
    u, lcols = _tag_union(
        left, right, keys, left_ts, right_ts, right_payload,
        left_side=0, include_rts=False,
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_ats", "_side", "_p")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = u.select(
        *lcols,
        "_side",
        F.first("_p", ignorenulls=True).over(w).alias("_carry"),
    )
    return carried.filter(F.col("_side") == 0).select(
        *lcols,
        *[F.col(f"_carry.{c}").alias(f"{c}_right") for c in right_payload],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: Sequence[str] = (),
) -> DataFrame:
    """Nearest as-of join: every left row plus the payload of whichever
    right row is CLOSEST in time (either direction) within the key —
    the sensor-fusion alignment ("the quote nearest this reading").
    Ties (equidistant before/after) resolve BACKWARD, and a right row at
    the exact left timestamp matches via the backward leg (distance 0).

    Cost: still ONE shuffle + ONE sort — both directional carries are
    windows over the same (keys) partitioning and (ts, side) ordering,
    so Catalyst plans a single exchange feeding two window frames. The
    choice between carries is a per-row expression. Adds a
    ``direction_right`` column ('backward'/'forward', NULL when no
    right row exists for the key). Right rows sort before left rows at
    equal timestamps (left_side=1): the backward leg is inclusive, the
    forward leg strict — an exact-timestamp match wins via backward at
    distance 0 either way. The carry struct leads with the right
    timestamp so the chooser can compute |Δt| in microseconds."""
    right_payload = _resolve_payload(right, keys, right_ts, right_payload)
    u, lcols = _tag_union(
        left, right, keys, left_ts, right_ts, right_payload,
        left_side=1, include_rts=True,
    )
    wb = (
        Window.partitionBy(*keys)
        .orderBy("_ats", "_side", "_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy("_ats", "_side", "_p")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = u.select(
        *lcols,
        "_ats",
        "_side",
        F.last("_p", ignorenulls=True).over(wb).alias("_back"),
        F.first("_p", ignorenulls=True).over(wf).alias("_fwd"),
    )
    d_back = F.unix_micros(F.col("_ats")) - F.unix_micros(F.col("_back._rts"))
    d_fwd = F.unix_micros(F.col("_fwd._rts")) - F.unix_micros(F.col("_ats"))
    use_back = F.col("_fwd").isNull() | (
        F.col("_back").isNotNull() & (d_back <= d_fwd)
    )
    chosen = F.when(use_back, F.col("_back")).otherwise(F.col("_fwd"))
    direction = (
        F.when(
            F.col("_back").isNull() & F.col("_fwd").isNull(),
            F.lit(None).cast("string"),
        )
        .when(use_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    return (
        carried.filter(F.col("_side") == 1)
        .withColumn("_chosen", chosen)
        .select(
            *lcols,
            *[
                F.col(f"_chosen.{c}").alias(f"{c}_right")
                for c in right_payload
            ],
            direction.alias("direction_right"),
        )
    )
