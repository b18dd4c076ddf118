"""Binary-file source: a directory of raw media files as a DataFrame.

The multimodal layer (operators/multimodal.py) processes media as opaque
``binary`` columns with typed metadata; this source is how those columns
enter the engine from a filesystem/object store — Spark's built-in
``binaryFile`` format (path, modificationTime, length, content), adapted
to the MEDIA_SCHEMA the feature extractors consume. Reference analog:
the upload/ingest surface that accepts media alongside text
(src/services/db_llm_service.py ingest paths take opaque payloads).

Scale posture: ``binaryFile`` is a standard FileFormat — listing is
driver-side but distributed-read; ``pathGlobFilter`` prunes by extension
BEFORE any bytes move, and ``spark.sql.files.maxPartitionBytes`` governs
how many files pack into one task. Payloads stay JVM-side until a
mapInPandas extractor asks for them (Arrow-batched), so the slow path
touches bytes exactly once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# extension -> media kind, the typed-metadata contract multimodal expects
KIND_BY_EXT = {
    "jpg": "image", "jpeg": "image", "png": "image", "gif": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "mkv": "video", "webm": "video",
}


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Read a directory of binary files into the multimodal MEDIA_SCHEMA:
    (media_id, kind, payload, meta). media_id is a deterministic 60-bit
    hash of the file path (stable across runs and listing order — never
    monotonically_increasing_id, which renumbers per partitioning);
    kind derives from the extension; meta carries path/length/mtime."""
    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)

    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    kind_expr = F.coalesce(
        *[
            F.when(ext == e, F.lit(k))
            for e, k in KIND_BY_EXT.items()
        ],
        F.lit("binary"),
    )
    # 60-bit deterministic id from the path: first 15 hex chars of md5
    # (15 x 4 bits; the idiom dedup.MINHASH_P's comment documents as 60-bit).
    media_id = F.conv(F.substring(F.md5("path"), 1, 15), 16, 10).cast("long")
    return raw.select(
        media_id.alias("media_id"),
        kind_expr.alias("kind"),
        F.col("content").alias("payload"),
        F.create_map(
            F.lit("path"), F.col("path"),
            F.lit("length"), F.col("length").cast("string"),
            F.lit("mtime"), F.col("modificationTime").cast("string"),
        ).alias("meta"),
    )
