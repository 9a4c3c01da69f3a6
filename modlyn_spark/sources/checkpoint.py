"""Manifest-based per-partition checkpointing with lineage metrics.

North_rule: "resumable from checkpoint with per-partition lineage +
metrics". Spark has no batch-job checkpointing at this granularity
(Structured Streaming checkpoints don't apply), so the engine provides it
as a library:

- rows are assigned a stable bucket = pmod(xxhash64(key), n_buckets) —
  a pure function of the data, independent of parallelism;
- output parquet is partitioned by bucket (dynamic partition overwrite, so
  re-writing a bucket is idempotent);
- after each bucket's data is durable, a manifest JSON is committed next to
  it recording row count + an order-insensitive content hash
  (sum of per-row xxhash64 over all columns) + wall-clock + lineage note;
- on resume, buckets with a manifest are skipped entirely (the filter prunes
  them before any compute); buckets that crashed between data-write and
  manifest-write are recomputed and overwritten — idempotent either way.

The manifest doubles as the lineage/metrics record the north_rule wants
persisted alongside each commit: ``verify(path)`` re-reads the data and
checks every bucket's count+hash against its manifest.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_BUCKET = "__ckpt_bucket"


def _manifest_dir(path: str) -> str:
    return path.rstrip("/") + "/_manifest"


# -- manifest IO via the Hadoop FileSystem API --------------------------------
# The data goes through Spark writers, which resolve any Hadoop-supported
# scheme (hdfs://, s3a://, file://...). Manifests must live on the SAME
# filesystem or resume/verify silently see nothing — so they are read and
# written through org.apache.hadoop.fs.FileSystem (via the session JVM), not
# driver-local os.* calls.


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm


def _fs_list_json(spark: SparkSession, directory: str) -> list[str]:
    """Names of bucket-*.json files in ``directory`` ([] if absent)."""
    fs, jvm = _fs_for(spark, directory)
    jdir = jvm.org.apache.hadoop.fs.Path(directory)
    if not fs.exists(jdir):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(jdir)
        if st.getPath().getName().startswith("bucket-")
        and st.getPath().getName().endswith(".json")
    ]


def _fs_read_json(spark: SparkSession, file_path: str) -> dict:
    fs, jvm = _fs_for(spark, file_path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(file_path))
    try:
        data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(data)


def _fs_write_json_atomic(spark: SparkSession, directory: str, name: str, rec: dict):
    """Write ``<directory>/<name>`` via temp-file + delete + rename.

    NOT fully atomic: a crash between the delete and the rename (or a
    copy+delete rename on an object store) can lose an already-existing
    manifest. The failure is benign by design — a missing manifest only
    makes resume recompute that bucket, and the recompute is idempotent —
    so the window is accepted rather than paying for a FileContext/
    Options.Rename.OVERWRITE dependency that not every Hadoop FS provides.
    """
    fs, jvm = _fs_for(spark, directory)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(directory))
    tmp = Path(directory, f".{name}.tmp")
    dst = Path(directory, name)
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(rec).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(tmp, dst)


# -- hash families -------------------------------------------------------------
# Default family: Spark xxhash64 (JVM-native, fastest). Portable family:
# md5-derived — bucket = first 8 hex digits of md5(key) mod n, row hash =
# first 15 hex digits (60 bits) of md5 over the '\x1f'-joined stringified
# row — chosen because md5 + hex->int are expressible IDENTICALLY in any
# ANSI engine (DuckDB: CAST('0x'||substr(md5(s),1,15) AS BIGINT)), so an
# EXTERNAL system can audit the persisted lineage metrics without Spark.

_HASH_XX = "xxhash64"
_HASH_MD5 = "portable-md5"
_SEP = "\x1f"
_MOD61 = 2**61


def _portable_row_hash(data_cols: list[str]):
    s = F.concat_ws(_SEP, *[F.col(c).cast("string") for c in data_cols])
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")


def _bucket_col(key_cols: list[str], n_buckets: int, hash_family: str):
    if hash_family == _HASH_MD5:
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        return F.pmod(h, F.lit(n_buckets)).cast("int")
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)
    ).cast("int")


def _bucket_metrics(
    df: DataFrame, data_cols: list[str], hash_family: str = _HASH_XX
) -> DataFrame:
    """Per-bucket (rows, content_hash): order-insensitive sum of per-row
    hashes over all payload columns (cast to string for type stability)."""
    # sum in decimal(38,0) (no ANSI long-overflow), reduce mod 2^61 -> long
    if hash_family == _HASH_MD5:
        row_hash = _portable_row_hash(data_cols)
    else:
        row_hash = F.xxhash64(*[F.col(c).cast("string") for c in data_cols]).cast(
            "decimal(38,0)"
        )
    return df.groupBy(_BUCKET).agg(
        F.count(F.lit(1)).alias("rows"),
        F.pmod(F.sum(row_hash), F.lit(_MOD61).cast("decimal(38,0)"))
        .cast("long")
        .alias("content_hash"),
    )


def completed_buckets(path: str, spark: SparkSession | None = None) -> dict[int, dict]:
    """Read the manifest: bucket -> {rows, content_hash, ...}."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("completed_buckets needs an active SparkSession")
    mdir = _manifest_dir(path)
    out: dict[int, dict] = {}
    for f in _fs_list_json(spark, mdir):
        rec = _fs_read_json(spark, f"{mdir}/{f}")
        out[int(rec["bucket"])] = rec
    return out


def write_checkpointed(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    *,
    n_buckets: int = 16,
    lineage: str = "",
    portable_hash: bool = False,
) -> dict:
    """Write ``df`` to ``path`` bucket-by-bucket with resume support.

    Returns {"computed": [...], "skipped": [...], "rows_written": int}.
    Calling again after a partial failure completes only the missing
    buckets; calling on a complete output is a no-op.

    ``portable_hash=True`` switches bucket assignment and the manifest
    content hash to the md5-derived family so the lineage metrics can be
    recomputed by any external SQL engine (slower than xxhash64; use for
    externally-audited commits). The family used is recorded per manifest
    and honored by ``verify``.
    """
    spark = df.sparkSession
    hash_family = _HASH_MD5 if portable_hash else _HASH_XX
    done = completed_buckets(path, spark)
    # resume must keep the bucket-assignment family of the original run:
    # committed buckets partition the key space under THAT family, so
    # assigning the remaining rows under the other one would duplicate
    # rows into already-written buckets and orphan others entirely
    existing_families = {rec.get("hash", _HASH_XX) for rec in done.values()}
    if existing_families and existing_families != {hash_family}:
        raise ValueError(
            f"checkpoint at {path} was written with hash family "
            f"{sorted(existing_families)}; resume requested "
            f"{hash_family!r} — rerun with the original portable_hash "
            "setting (or start a fresh path)"
        )
    # the same holds for the bucket count and the key: another layout
    # assigns rows to other buckets, so the missing ones would re-write
    # rows already committed under the recorded layout
    for name, want in [("n_buckets", n_buckets), ("key_cols", list(key_cols))]:
        other = {repr(rec[name]) for rec in done.values() if rec.get(name, want) != want}
        if other:
            raise ValueError(
                f"checkpoint at {path} was written with {name}="
                f"{', '.join(sorted(other))}; resume requested {name}={want!r} "
                "— rerun with the original layout (or start a fresh path)"
            )
    bucketed = df.withColumn(_BUCKET, _bucket_col(key_cols, n_buckets, hash_family))
    todo_buckets = [b for b in range(n_buckets) if b not in done]
    result = {"computed": todo_buckets, "skipped": sorted(done), "rows_written": 0}
    if not todo_buckets:
        return result

    todo = bucketed.where(F.col(_BUCKET).isin(todo_buckets))
    # idempotent per-bucket overwrite: only touched partitions are replaced
    (
        todo.repartition(_BUCKET)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(_BUCKET)
        .parquet(path)
    )
    # data is durable; now commit manifests (metrics read back from disk so
    # the hash covers what was actually written)
    data_cols = [c for c in df.columns]
    written = spark.read.parquet(path).where(F.col(_BUCKET).isin(todo_buckets))
    metrics = _bucket_metrics(
        written.select(*data_cols, _BUCKET), data_cols, hash_family
    ).collect()
    mdir = _manifest_dir(path)
    now = time.time()
    got = {
        int(r[_BUCKET]): (int(r["rows"]), int(r["content_hash"] or 0))
        for r in metrics
    }
    # a bucket that produced zero rows still needs a manifest (else it would
    # be recomputed forever)
    for b in todo_buckets:
        rows, content_hash = got.get(b, (0, 0))
        rec = {
            "bucket": b,
            "rows": rows,
            "content_hash": content_hash,
            "committed_at": now,
            "lineage": lineage,
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "hash": hash_family,
        }
        _fs_write_json_atomic(spark, mdir, f"bucket-{b}.json", rec)
        result["rows_written"] += rows
    return result


def read_checkpointed(spark: SparkSession, path: str) -> DataFrame:
    """Read a checkpointed output (drops the bucket column)."""
    return spark.read.parquet(path).drop(_BUCKET)


def verify(spark: SparkSession, path: str) -> dict:
    """Lineage audit: recompute per-bucket count+hash from the stored data
    and compare with the manifests. Returns {"ok": bool, "bad_buckets": []}."""
    done = completed_buckets(path, spark)
    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c != _BUCKET]
    # honor the hash family the manifests were committed with
    family = next(
        (rec.get("hash", _HASH_XX) for rec in done.values()), _HASH_XX
    )
    got = {
        int(r[_BUCKET]): (int(r["rows"]), int(r["content_hash"]) if r["content_hash"] is not None else 0)
        for r in _bucket_metrics(df, data_cols, family).collect()
    }
    bad = []
    for b, rec in done.items():
        g = got.get(b, (0, 0))
        if g != (rec["rows"], rec["content_hash"]):
            bad.append(b)
    return {"ok": not bad, "bad_buckets": sorted(bad), "n_buckets": len(done)}
