"""Count-Min sketch over token streams — mergeable frequency sketch with a
verifiable overestimate guarantee (est >= exact always; overshoot bounded by
colliding mass / width).

Engine-reproducible hashing (repo convention, see dedup.py): bucket_i(tok) =
int(md5(f"{i}|{tok}")[:4], 16) % width — DuckDB computes the identical value
via CAST('0x' || substr(md5(..),1,4) AS BIGINT) % width, so the whole sketch,
the per-token estimates, and the exact-vs-estimate audit are hash-checkable
against the SQL oracle (no RNG, no engine-private hash).

Scale shape: the sketch build is one groupBy over (depth x width) keys with
map-side partial aggregation — each executor contributes a partial sketch and
the shuffle moves only depth*width rows per partition (the textbook mergeable
sketch); estimates join the (tiny, broadcast) sketch onto the distinct-token
vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEPTH = 4
WIDTH = 256


def _bucket(tok_col, i: int, width: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), tok_col)), 1, 4), 16, 10
        ).cast("bigint")
        % width
    )


def countmin_sketch(
    tokens: DataFrame, tok_col: str = "tok", depth: int = DEPTH, width: int = WIDTH
) -> DataFrame:
    """Build the sketch: (row, bucket, cnt) from a token-instance stream.

    One explode to depth rows per instance, one partially-aggregated
    groupBy — the result has at most depth*width rows regardless of input
    size, and two sketches built on disjoint splits merge by summing cnt
    (associative), which is what makes the sketch checkpoint/stream-safe.
    """
    rows = tokens.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"), _bucket(F.col(tok_col), i, width).alias("bucket")
                )
                for i in range(depth)
            ])
        ).alias("rb")
    )
    return rows.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimates(
    tokens: DataFrame,
    tok_col: str = "tok",
    depth: int = DEPTH,
    width: int = WIDTH,
    min_exact: int = 1,
) -> DataFrame:
    """Per-token exact count, Count-Min estimate, and overcount audit.

    est = min over rows of sketch[row][bucket_row(tok)]; the CM guarantee
    est >= exact holds deterministically (each counter includes the token's
    own mass), so `overcount` is always >= 0 — asserted by tests and
    visible to the oracle as a plain column.
    """
    sketch = countmin_sketch(tokens, tok_col, depth, width)
    exact = tokens.groupBy(F.col(tok_col).alias("tok")).agg(
        F.count(F.lit(1)).alias("n_exact")
    ).filter(F.col("n_exact") >= min_exact)
    probes = exact.select(
        "tok",
        "n_exact",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"), _bucket(F.col("tok"), i, width).alias("bucket")
                )
                for i in range(depth)
            ])
        ).alias("rb"),
    ).select("tok", "n_exact", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("tok", "n_exact")
        .agg(F.min("cnt").alias("n_est"))
    )
    return est.select(
        "tok",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overcount"),
    )
