"""Correctness gate: the sink's distinct (subj, pred, obj) set against the
plain-Python reference `oracle_py.pipeline_triples` over the same input rows.

Both sides are reduced to a fingerprint of the distinct key set: its size
and the sum of CRC-32 over the keys joined by a unit separator (Spark's
`crc32` and Python's `zlib.crc32` agree byte for byte). The Spark side also
reports how many sink rows repeat a key, so duplicates are counted rather
than treated as a wrong key set.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"


@dataclass(frozen=True)
class SinkCheck:
    rows: int
    distinct: int
    crc_sum: int

    @property
    def dup_triples(self) -> int:
        return self.rows - self.distinct


def reference_fingerprint(transcript_rows: list[dict], gazetteer) -> tuple[int, int]:
    """(distinct key count, CRC-32 sum) of the oracle's triple set."""
    from cliner_spark.oracle_py import pipeline_triples

    triples, _mentions = pipeline_triples(transcript_rows, gazetteer)
    return len(triples), sum(zlib.crc32(SEP.join(t).encode()) for t in triples)


def parquet_reference(path: str, gazetteer) -> tuple[int, tuple[int, int]]:
    """(input rows, reference fingerprint) of the transcripts parquet at
    `path`, read with pyarrow rather than collected through Spark."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path, columns=["conv_id", "turn_idx", "text"]).to_pylist()
    return len(rows), reference_fingerprint(rows, gazetteer)


def sink_fingerprint(triples: DataFrame) -> SinkCheck:
    per_key = triples.groupBy("subj", "pred", "obj").count()
    r = per_key.agg(
        F.coalesce(F.sum("count"), F.lit(0)).alias("rows"),
        F.count(F.lit(1)).alias("distinct"),
        F.coalesce(
            F.sum(F.crc32(F.concat_ws(SEP, "subj", "pred", "obj"))), F.lit(0)
        ).alias("crc_sum"),
    ).first()
    return SinkCheck(int(r["rows"]), int(r["distinct"]), int(r["crc_sum"]))


def matches(check: SinkCheck, reference: tuple[int, int]) -> bool:
    return (check.distinct, check.crc_sum) == reference


def data_files(path: str) -> list[str]:
    """Data files of a parquet sink directory (partition dirs included)."""
    out = []
    for d, _dirs, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.startswith("part-")]
    return out


def sink_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))
