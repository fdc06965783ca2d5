"""NDJSON source and sink.

Reference capabilities re-expressed (citations into
/root/reference/mapwarper.js):

- NDJSON source: read files, concat, split lines, drop blanks,
  JSON.parse (:423-428) → ``spark.read.schema(s).json(paths)`` — the
  multi-path read IS the union-of-sources (:423-425).
- NDJSON sink: JSON.stringify + intersperse('\n') + write (:152-153,
  :157-166, :205-211) → ``df.write.json`` for partitioned output, or
  ``to_ndjson_lines`` when the exact one-line-per-record text format
  matters at an export boundary (``pipeline.export_ndjson_file``
  writes it as the reference's single file).

Scale note: NDJSON is the *boundary* format only. Inter-stage
checkpoints must be Parquet (columnar, splittable, predicate-pushdown);
a 100 TB NDJSON intermediate would forfeit column pruning and pay full
JSON parse per pass.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_ndjson(
    spark: SparkSession, paths: Sequence[str] | str, schema: T.StructType
) -> DataFrame:
    """Schema-first NDJSON read; never inferSchema (a full extra pass)."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(schema).json(list(paths))


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def to_ndjson_lines(df: DataFrame) -> DataFrame:
    """One STRING column ``line`` holding each record as compact JSON.

    Matches the reference's stringify+newline sink byte format
    (:164-165); write with ``.write.text(path)``. Null fields are
    dropped, like JSON.stringify on undefined.
    """
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("line")
    )
