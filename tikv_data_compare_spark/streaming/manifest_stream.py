"""Streaming maintenance of checksum manifests.

The batch manifest flow (operators/checksum.py: ``save_checksum_manifest`` /
``compare_to_manifest``) snapshots per-bucket ``(XOR-checksum, count)``
triples so drift detection never rescans the old snapshot.  This module
keeps that manifest CONTINUOUSLY up to date from an append-only stream:
each micro-batch's bucket triples are folded into the stored manifest under
the same commutative monoid the reference merges region checksums with
(``(XOR, +)``, checksum/checksum.go:25-29) — so the streamed manifest is
BIT-IDENTICAL to one built from the full table in batch, regardless of how
the rows were chunked into micro-batches (order-independence is the
monoid's whole point, and the equality is contract-tested).

Exactly-once: ``foreachBatch`` may redeliver an epoch after a failure, and
an XOR fold is NOT idempotent — folding the same batch twice cancels its
checksum contribution and double-counts kvs.  The manifest therefore
carries a ``last_epoch`` watermark column and silently skips epochs ≤ it.
The watermark is only meaningful against a PERSISTENT stream checkpoint —
``manifest_stream`` therefore requires ``checkpoint_location`` and restart
correctness depends on reusing it (see the function docstring).  The
watermark is a constant column of the manifest itself, so the data and the
watermark commit in ONE directory swap — a crash between two separate
commits could otherwise leave an epoch's data applied but unmarked (or
vice versa), and the redelivery would corrupt the fold.

Format: the one manifest format of operators/checksum.py — a parquet
directory at ``path`` with columns ``bucket, cksum, kvs, algo,
last_epoch`` plus the bucketing metadata columns (``n_buckets``, or
``range_key`` and ``range_boundaries``).  A manifest saved in batch has
``last_epoch = -1``, so a stream can continue it from epoch 0, and a
streamed manifest is compared exactly like a saved one.

Scale notes: per micro-batch the work is one map-side hash + one ~16
B/bucket aggregation, then a merge against a bucket-count-sized table —
nothing grows with stream history except the manifest itself (bounded by
the bucket count).  The swap-directory commit is a local-FS stand-in for
what a production deployment does with a transactional table format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.operators.checksum import (
    bucket_triples,
    read_manifest,
    validate_manifest,
    write_manifest,
)


def fold_batch_into_manifest(
    batch: Keyed,
    path: str,
    bucket,
    algo: str = "xxhash64",
    epoch_id: int = 0,
    meta: dict | None = None,
) -> bool:
    """Fold ONE batch's bucket triples into the manifest at ``path``;
    returns False when the epoch was already applied (redelivery skip).

    ``bucket`` and ``meta`` are what ``save_checksum_manifest`` takes — e.g.
    the pair :func:`~tikv_data_compare_spark.operators.checksum.hash_bucketing`
    or ``range_bucketing`` returns.  Every fold into an existing manifest
    (saved or streamed) validates ``algo`` and ``meta`` against the stored
    columns: range boundaries are frozen at manifest creation — re-deriving
    them from a micro-batch would bucket each epoch differently and corrupt
    the fold.

    Shared by the streaming sink below and any batch caller doing manual
    incremental loads (e.g. nightly partition appends).
    """
    meta = meta or {}
    old = read_manifest(batch.df.sparkSession, path)
    new = bucket_triples(batch, bucket, algo).select("bucket", "cksum", "kvs")
    if old is not None:
        watermark = old.agg(F.max("last_epoch")).first()[0]
        if watermark is not None and epoch_id <= watermark:
            return False
        validate_manifest(old, algo, meta, f"manifest at {path!r}")
        new = (
            old.select("bucket", "cksum", "kvs")
            .unionByName(new)
            .groupBy("bucket")
            .agg(
                # the region-merge monoid, applied across generations: XOR of
                # the per-generation checksums, sum of the counts
                F.bit_xor("cksum").alias("cksum"),
                F.sum("kvs").alias("kvs"),
            )
        )
    # ONE swap commits data + watermark (+ meta) atomically
    write_manifest(new, path, algo, epoch_id, meta)
    return True


def manifest_stream(
    stream_df: DataFrame,
    keys: tuple[str, ...],
    path: str,
    bucket_expr,
    algo: str = "xxhash64",
    trigger_once: bool = True,
    checkpoint_location: str | None = None,
    meta: dict | None = None,
) -> StreamingQuery:
    """Maintain a checksum manifest from an append-only stream.

    ``bucket_expr`` is a zero-arg callable returning the bucket Column
    (callables, because Columns must be built on the micro-batch's lineage)
    and ``meta`` the bucketing metadata to store and validate, as in
    :func:`fold_batch_into_manifest`.  The manifest at ``path`` has the one
    format of ``save_checksum_manifest``, so ``compare_to_manifest(...,
    manifest=path)`` and the CLI's ``manifest --against`` consume it
    directly.

    ``checkpoint_location`` is REQUIRED.  Restart correctness depends on
    reusing the SAME checkpoint directory for every start() over a given
    source+manifest pair: Spark's epoch ids are monotonic only per
    checkpoint, and the manifest's ``last_epoch`` redelivery watermark is
    keyed on them.  A fresh (or temporary) checkpoint restarts epoch ids
    at 0, so a second invocation would re-list ALL source files — epochs
    ≤ the stored watermark get silently skipped even when they contain new
    files, and epochs above it re-fold old files into the non-idempotent
    XOR (r8 ADVICE).  With a persistent checkpoint, ``availableNow``
    re-runs process only files not yet committed, and the watermark guards
    exactly the foreachBatch redelivery window it was built for.
    """
    if checkpoint_location is None:
        raise ValueError(
            "manifest_stream requires checkpoint_location= — a fresh checkpoint "
            "restarts epoch ids at 0 and corrupts the XOR fold on re-invocation; "
            "reuse one directory per source+manifest pair"
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fold_batch_into_manifest(
            Keyed.of(batch_df, keys=keys), path, bucket_expr(), algo, epoch_id, meta
        )

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_location)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
