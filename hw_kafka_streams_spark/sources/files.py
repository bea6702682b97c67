"""Format-agnostic file sources and sinks (parquet / csv / json / orc).

The reference's only source is a Kafka topic (KafkaStreamApp.java:154);
an engine replacing it needs the batch formats a lake actually holds.
Everything funnels through ``spark.read`` options so Catalyst keeps
predicate pushdown and column pruning where the format supports it
(parquet/orc: full; csv/json: column pruning only — a documented reason
to compact into parquet early in any 100 TB pipeline).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

_FORMATS = {"parquet", "csv", "json", "orc"}

#: ``(path, size, mtime_ns)`` per file, sorted by path.
FileVersions = tuple[tuple[str, int, int], ...]


def file_versions(paths: Iterable[str]) -> FileVersions | None:
    """Version token of a set of local files: ``(path, size, mtime_ns)``
    per file, sorted. A file rewritten in place under the same name
    gets a new token. ``paths`` may be plain paths or ``file:`` URIs
    (what ``DataFrame.inputFiles()`` returns). None when a path names a
    remote store or a file that is gone: the caller cannot tell whether
    its data changed."""
    out = []
    for p in paths:
        if p.startswith("file:"):
            p = p[len("file://"):] if p.startswith("file://") else p[len("file:"):]
        elif not p.startswith("/"):
            return None
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def dir_version(path: str) -> FileVersions | None:
    """Version token of the data files under a local directory: the
    :func:`file_versions` of every file Spark's reader would list.
    Names starting with ``.`` or ``_`` are skipped as Spark skips them
    (``_k=v`` partition directories excepted). None when ``path`` is not
    a local directory."""
    if not os.path.isdir(path):
        return None

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    files = []
    for base, dirs, names in os.walk(os.path.abspath(path)):
        dirs[:] = [d for d in dirs if not hidden(d)]
        files += [os.path.join(base, n) for n in names if not hidden(n)]
    return file_versions(files)


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Batch-read ``path`` as ``fmt``.

    An explicit ``schema`` (DDL string) skips inference — mandatory at
    scale: schema inference on csv/json is a full extra pass over the
    data. csv defaults to header=true.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {sorted(_FORMATS)}")
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


def read_file_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Streaming read of a directory (file source: new files per batch).

    File sources REQUIRE an explicit schema in streaming mode; the
    source tracks seen files in the checkpoint, giving exactly-once
    per-file semantics — the batch/stream duality the reference's
    topic-based model has, re-expressed over a lake path.
    """
    if schema is None:
        raise ValueError("streaming file sources require an explicit schema")
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_files(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Batch-write ``df``; ``partition_by`` produces the directory layout
    that makes downstream partition pruning possible."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; known: {sorted(_FORMATS)}")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
) -> None:
    """MERGE-style upsert into a parquet target: rows whose key appears
    in ``updates`` are replaced, new keys are appended.

    No table format ships in this container, so the engine-native plan
    is LEFT ANTI(target, update-keys) ⊎ updates → rewrite — the same
    logical MERGE a lakehouse runs, minus file-level pruning. The write
    goes to a staging dir first and swaps in atomically (rename), so a
    failed job never truncates the target; this is also the
    ``foreachBatch`` building block for idempotent streaming upserts
    (re-running a batch re-applies the same keys — convergent).

    At 100 TB: use Delta/Iceberg MERGE (txn log + file skipping keeps
    the rewrite proportional to touched files, not the table); the
    declarative shape here translates 1:1.
    """
    import os
    import shutil

    tgt = spark.read.parquet(path)
    keep = tgt.join(updates.select(*keys).distinct(), keys, "left_anti")
    out = keep.unionByName(updates)
    staging = path.rstrip("/") + ".__staging__"
    out.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


def delete_rows(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: list[str],
) -> None:
    """GDPR-style hard delete from a parquet target: every row whose
    key appears in ``keys_df`` is removed (anti-join rewrite, staged
    atomic swap like :func:`merge_upsert`). Idempotent — re-running
    with the same key set is a no-op. At 100 TB a table format's
    DELETE does the same rewrite with file pruning; the anti-join
    shape is identical.
    """
    import os
    import shutil

    tgt = spark.read.parquet(path)
    keep = tgt.join(keys_df.select(*keys).distinct(), keys, "left_anti")
    staging = path.rstrip("/") + ".__staging__"
    keep.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
