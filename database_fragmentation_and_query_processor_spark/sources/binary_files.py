"""Binary-file ingestion via Spark's built-in ``binaryFile`` source.

The multimodal ingest front door: raw image/audio/video/document blobs
land as files in an object store, and the first pipeline step turns
them into a DataFrame of ``(path, modificationTime, length, content)``
rows — after which the binary column flows through the existing
multimodal operators (``multimodal/binary_ops.py``: typed metadata,
Arrow-batched feature extraction, resize/frame-sample plumbing).

Scale notes:

- ``binaryFile`` is a normal FileFormat: listing parallelizes, files
  split across tasks (one file per row — a file is never split), and
  ``pathGlobFilter`` prunes at listing time, so 100 TB of blobs scan
  exactly like any other file source.
- ``spark.sql.files.maxPartitionBytes`` groups small blobs per task;
  for many tiny files raise it (or compact upstream) so task count
  tracks bytes, not file count.
- The ``content`` column is the whole blob in memory per row: this
  source is for blob-sized payloads (KB-MB), not for formats with
  record structure — those get a real reader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Scan a directory of opaque blobs into (path, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def with_file_id(df: DataFrame, pattern: str = r"(\d+)\.bin$") -> DataFrame:
    """Derive a numeric id from the blob filename — the usual key
    recovery step when blob stores key by name."""
    return df.withColumn(
        "file_id", F.regexp_extract(F.col("path"), pattern, 1).cast("bigint")
    )


def write_text_blobs(rows: list[tuple[int, str]], path: str) -> None:
    """Local-mode TEST SCAFFOLDING ONLY: materialize (id, text) rows as
    one ``<id>.bin`` file each so the binaryFile read path has a real
    directory to scan. Real deployments ingest pre-existing object-store
    files — there is no production 'write blobs from a DataFrame via
    the driver' path, which is why this helper takes a plain list and
    lives next to the tests' fixture builders."""
    os.makedirs(path, exist_ok=True)
    for file_id, text in rows:
        with open(os.path.join(path, f"{file_id}.bin"), "wb") as f:
            f.write(text.encode("utf-8"))
