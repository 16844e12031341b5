"""Grouped-map and cogrouped-map pandas operators (the two Spark Python
surfaces not covered by the scalar/iterator UDFs or the UDTFs):
``groupBy(...).applyInPandas`` and ``cogroup(...).applyInPandas``.

Both operators here are deterministic; tests/test_grouped.py checks them
against hand-computed results:

- ``robust_user_outliers`` — per-user robust outlier summary via
  median/MAD (the estimator a quality pipeline uses when event values are
  heavy-tailed and mean/stddev are useless). Median and MAD both linearly
  interpolate the two middle order statistics, matching DuckDB
  ``median``/``quantile_cont(0.5)`` bit-for-bit on float64, so even the
  3·1.4826·MAD cut threshold compares identically across engines.

- ``asof_align`` — per-user as-of alignment of one event stream against
  another via ``pandas.merge_asof`` inside a cogrouped map: each left row
  takes the latest right row at or before its timestamp (a backward as-of
  join, the same rule as DuckDB's ASOF LEFT JOIN). The right side is
  pre-aggregated to one row per (user_id, ts) so backward-search ties
  cannot make output depend on intra-group row order.

Scale notes: both shuffle once on the grouping key (user_id) and hold ONE
group in memory at a time — group size is per-user event count, bounded and
small, never corpus-sized. Skewed users would hot-spot a task exactly like
any groupBy; the mitigations are the same salting/AQE story as the KG sink
(triples.salted_partition_col). Arrow does the row transfer; no per-row
Python outside the pandas kernels.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    pass

MAD_K = 1.4826  # normal-consistency constant
MAD_CUT = 3.0

_OUTLIER_SCHEMA = (
    "user_id bigint, n_events bigint, med double, mad double, n_outliers bigint"
)


def robust_user_outliers(events: DataFrame) -> DataFrame:
    """groupBy(user_id).applyInPandas: median/MAD outlier summary per user.

    Returns one row per user: event count, median(value), MAD(value), and
    how many events sit outside med ± 3·1.4826·MAD (zero when MAD == 0 —
    a degenerate constant-valued user has no outliers by definition).
    """

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        med = float(np.median(v))
        ad = np.abs(v - med)
        mad = float(np.median(ad))
        # literal-identical threshold expression to the SQL twin:
        # 3.0 * 1.4826 * mad, left-associated IEEE float64
        n_out = int((ad > MAD_CUT * MAD_K * mad).sum()) if mad > 0 else 0
        return pd.DataFrame(
            {
                "user_id": pd.Series([pdf["user_id"].iloc[0]], dtype="int64"),
                "n_events": pd.Series([len(v)], dtype="int64"),
                "med": [med],
                "mad": [mad],
                "n_outliers": pd.Series([n_out], dtype="int64"),
            }
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandas(per_user, schema=_OUTLIER_SCHEMA)
    )


_ASOF_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, "
    "last_right_value double, gap_ms bigint"
)


def asof_align(
    left: DataFrame, right: DataFrame, value_col: str = "value"
) -> DataFrame:
    """cogroup(left, right).applyInPandas: per-user backward as-of join.

    For every left event, find the latest right event with right.ts <=
    left.ts for the same user (pandas ``merge_asof``, exact matches
    allowed) and emit its value plus the gap in whole milliseconds
    (per-side epoch-ms floor, exactly DuckDB's ``epoch_ms`` algebra —
    timestamps here carry microsecond fractions, so second-granularity
    rounding would be engine-dependent). Left rows with no prior right
    event keep nulls. The right side is collapsed to one row per
    (user_id, ts) with max(value) BEFORE the cogroup so the backward
    search is tie-free.
    """
    # NOTE: the right timestamp is renamed BEFORE the cogroup — with both
    # sides carrying a column literally named "ts", Spark's cogroup
    # attribute resolution drops the right one from the Arrow batch
    # (observed on 4.1: right pdf arrives without "ts"); distinct names
    # side-step it.
    r = (
        right.groupBy("user_id", "ts")
        .agg(F.max(value_col).alias("rv"))
        .select("user_id", F.col("ts").alias("rts"), "rv")
    )

    def per_user(lg: pd.DataFrame, rg: pd.DataFrame) -> pd.DataFrame:
        if lg.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "ts", "last_right_value", "gap_ms"]
            )
        lg = lg.sort_values("ts", kind="mergesort")
        if rg.empty:
            # a key absent from the right stream arrives as an empty pdf
            # (possibly column-less): all-null alignment for this user
            return pd.DataFrame(
                {
                    "event_id": lg["event_id"].astype("int64"),
                    "user_id": lg["user_id"].astype("int64"),
                    "ts": lg["ts"],
                    "last_right_value": pd.Series(
                        [None] * len(lg), dtype="float64"
                    ),
                    "gap_ms": pd.Series([None] * len(lg), dtype="Int64"),
                }
            )
        rg = rg.sort_values("rts", kind="mergesort")
        m = pd.merge_asof(
            lg[["event_id", "user_id", "ts"]],
            rg[["rts", "rv"]],
            left_on="ts",
            right_on="rts",
            direction="backward",
            allow_exact_matches=True,
        )
        # per-side epoch-ms floor (== DuckDB epoch_ms), unit-explicit: Arrow
        # may hand pandas datetime64[us] or [ns] depending on version
        lms = m["ts"].astype("datetime64[ns]").astype("int64") // 10**6
        rms = m["rts"].astype("datetime64[ns]").astype("int64") // 10**6
        gap = (lms - rms).where(m["rts"].notna())
        return pd.DataFrame(
            {
                "event_id": m["event_id"].astype("int64"),
                "user_id": m["user_id"].astype("int64"),
                "ts": m["ts"],
                "last_right_value": m["rv"],
                "gap_ms": gap.astype("Int64"),
            }
        )

    return (
        left.select("event_id", "user_id", "ts")
        .groupBy("user_id")
        .cogroup(r.groupBy("user_id"))
        .applyInPandas(per_user, schema=_ASOF_SCHEMA)
    )
