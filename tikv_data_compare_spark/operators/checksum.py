"""Checksum operators — the reference's flagship (`checksum` subcommand).

Reference semantics (checksum/checksum.go:118-179): compute an
order-independent triple ``{Crc64Xor, TotalKvs, TotalBytes}`` over a key
range on each cluster, region-parallel, merged as a commutative monoid
``(XOR, +, +)`` (checksum/checksum.go:25-29), then compare the triples.

Spark mapping (SURVEY.md §2.4): one ``groupBy().agg(bit_xor(hash), count,
sum(len))`` — Catalyst's partial+final HashAggregate replaces the reference's
per-region worker pool + mutex merge (checksum/checksum.go:78-95) with
map-side partial aggregation, which is exactly the right 100 TB shape: the
only shuffle is 24 bytes per partition.

Hash algorithms (per-row contribution, XOR-combined):
- ``xxhash64`` (default): Spark built-in, JVM/codegen, the fast path.
                Null-safe: each nullable column is interleaved with its
                ``isNull()`` marker because Spark's xxhash64 skips NULL
                children (see ``_null_safe_children``).
- ``md5i64``:   cross-engine md5-fold (functions/sqlgen.py) — DuckDB-oracle
                checkable bit-for-bit.
- ``crc64``:    CRC-64/XZ over ``key ++ value`` bytes via Pandas UDF —
                byte-compatible with real TiKV cluster checksums.

Every triple in this module comes from one aggregate (``_triples``), every
bucket-triple compare from one join (``drifted_buckets``), and every
checksum manifest has one format: a parquet directory at the path the
caller passes, columns ``bucket, cksum, kvs, algo, last_epoch`` plus one
constant column per metadata item — ``n_buckets`` for hash buckets
(``hash_bucketing``), ``range_key`` and ``range_boundaries`` (a JSON list)
for range buckets (``range_bucketing``).  ``last_epoch`` is the highest
stream epoch folded in (streaming/manifest_stream.py); a batch
``save_checksum_manifest`` writes -1, so a stream continues it from
epoch 0.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F

from tikv_data_compare_spark.functions import sqlgen
from tikv_data_compare_spark.functions.fsutil import recover_swap, swap_commit
from tikv_data_compare_spark.model import Keyed, check_comparable

ALGOS = ("xxhash64", "md5i64", "crc64")


def _null_safe_children(df: DataFrame, cols: list[str]) -> list[Column]:
    """Hash children for xxhash64 with per-position NULL disambiguation.

    Spark's ``xxhash64`` (like ``hash``) SKIPS null children — a NULL leaves
    the running hash unchanged — so rows differing only in WHICH column holds
    a NULL (the classic column-shift bug: ``(k, v, NULL)`` drifting to
    ``(k, NULL, v)``) would hash identically.  Interleaving each nullable
    column with its ``isNull()`` boolean restores injectivity over the null
    pattern: the marker is itself never NULL, so it always folds into the
    hash at that position — ``[v, false, true]`` vs ``[true, v, false]``
    differ.  EVERY column gets the marker, not just schema-nullable ones:
    the checksum must be a pure function of row VALUES, and nullability is
    metadata that legitimately differs between two sides holding identical
    data (a parquet read marks everything nullable; a createDataFrame or
    post-aggregation column may not) — deriving the child list from each
    side's own flags would make identical rows hash differently and report
    false drift.  A constant-false marker costs one codegen branch per
    column; stays entirely inside whole-stage codegen.
    """
    children: list[Column] = []
    for c in cols:
        children.append(F.col(c))
        children.append(F.col(c).isNull())
    return children


def _with_hash(keyed: Keyed, algo: str, tags: dict[str, str] | None) -> tuple[DataFrame, str]:
    """Return (df, hash_col_name) with a per-row hash column appended.

    md5i64 is staged through projected columns (canon → md5 → hexfold) so the
    md5 is computed once per row; inlining it 30× into one expression blows up
    whole-stage codegen compile time (observed 90s for a 1k-row aggregate).
    """
    df = keyed.df
    cols = list(keyed.columns)
    if algo == "xxhash64":
        return df.withColumn("_h", F.xxhash64(*_null_safe_children(df, cols))), "_h"
    if algo == "md5i64":
        canon = _row_canon_expr(keyed, cols, tags)
        df = df.withColumn("_canon", F.expr(canon)).withColumn("_m", F.md5(F.col("_canon")))
        return df.withColumn("_h", F.expr(sqlgen.hexfold_i64("_m"))), "_h"
    if algo == "crc64":
        from tikv_data_compare_spark.functions.hashes import crc64_pandas_udf

        # Typed columns must become binary BEFORE the coalesce — coalescing a
        # bigint with a binary literal is a DATATYPE_MISMATCH AnalysisException.
        # Binary columns pass through untouched (no lossy utf8 round-trip).
        binary_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "binary"}

        def _as_bytes(c: str) -> Column:
            col = F.col(c) if c in binary_cols else F.col(c).cast("string").cast("binary")
            return F.coalesce(col, F.lit(b""))

        payload = F.concat(*[_as_bytes(c) for c in cols])
        return df.withColumn("_h", crc64_pandas_udf()(payload)), "_h"
    raise ValueError(f"algo must be one of {ALGOS}, got {algo!r}")


def _row_canon_expr(keyed: Keyed, cols: list[str], tags: dict[str, str] | None) -> str:
    inferred = sqlgen.tags_from_spark_schema(keyed.df)
    tags = {**inferred, **(tags or {})}
    pairs = [(c, tags.get(c, sqlgen.STRING)) for c in cols]
    return sqlgen.row_canon(pairs, sqlgen.SPARK)


#: physical width in bytes of fixed-size Spark types (fast byte accounting)
_FIXED_WIDTH = {
    "long": 8, "integer": 4, "short": 2, "byte": 1,
    "double": 8, "float": 4, "boolean": 1,
    "date": 4, "timestamp": 8, "timestamp_ntz": 8, "decimal": 16,
}


def _byte_len(keyed: Keyed, tags: dict[str, str] | None, fast: bool = False) -> Column:
    """Per-row byte contribution.

    KV mode (all-binary): ``len(key)+len(value)`` — exactly the reference's
    TotalBytes (checksum/checksum.go:28).  Typed mode: length of the
    canonical row string (deterministic, oracle-matchable); the fast path
    (``fast=True``, used by xxhash64 mode) charges each column its PHYSICAL
    width — a constant per fixed-size type (folded into one literal for the
    whole row), ``octet_length`` only for string/binary columns.  That
    mirrors the reference's TotalBytes semantics (an accounting metric over
    stored bytes; VALUE drift detection belongs to the XOR checksum, which
    covers every column) and costs ~0 per row, where the previous
    render-every-column-to-string measure dominated the whole aggregate
    (profiled at sf0.1: 0.88 s of the 0.94 s triple).
    """
    dts = {f.name: f.dataType.typeName() for f in keyed.df.schema.fields}
    binary_cols = [c for c in keyed.columns if dts[c] == "binary"]
    if len(binary_cols) == len(keyed.columns):
        total = None
        for c in keyed.columns:
            term = F.length(F.col(c))
            total = term if total is None else total + term
        return total
    if fast:
        const = 0
        total = None
        for c in keyed.columns:
            dt = dts[c]
            if dt in _FIXED_WIDTH:
                const += _FIXED_WIDTH[dt]
                continue
            if dt == "binary":
                term = F.coalesce(F.length(F.col(c)), F.lit(1))
            elif dt == "string":
                term = F.coalesce(F.octet_length(F.col(c)), F.lit(1))
            else:
                term = F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(1))
            total = term if total is None else total + term
        base = F.lit(const).cast("long")
        return base if total is None else base + total
    if "_canon" in keyed.df.columns:  # md5i64 path already projected it
        return F.length(F.col("_canon"))
    return F.length(F.expr(_row_canon_expr(keyed, list(keyed.columns), tags)))


def _triples(
    keyed: Keyed,
    algo: str = "xxhash64",
    tags: dict[str, str] | None = None,
    by: Column | str | None = None,
    canon_bytes: bool = False,
) -> DataFrame:
    """The one triple aggregate: ``(checksum, total_kvs, total_bytes)`` =
    ``(bit_xor(hash), count, sum(bytes))``, the reference's ``(XOR, +, +)``
    monoid, grouped by nothing, by an existing column (``"side"``) or by a
    bucket Column (output column ``bucket``).  Callers that project
    ``total_bytes`` away get the sum pruned by Catalyst.
    """
    df, h = _with_hash(keyed, algo, tags)
    if isinstance(by, Column):  # after the hash: keeps the projection order
        df, by = df.withColumn("bucket", by), "bucket"
    fast = algo == "xxhash64" and not canon_bytes
    return (df.groupBy(by) if by else df.groupBy()).agg(
        F.bit_xor(F.col(h)).alias("checksum"),
        F.count(F.lit(1)).alias("total_kvs"),
        F.sum(_byte_len(Keyed(df, keyed.keys, keyed.values), tags, fast=fast)).alias(
            "total_bytes"
        ),
    )


def checksum(
    keyed: Keyed,
    algo: str = "xxhash64",
    tags: dict[str, str] | None = None,
    canon_bytes: bool = False,
) -> DataFrame:
    """One-row DataFrame ``(checksum, total_kvs, total_bytes)`` over ``keyed``.

    Order-independent: ``bit_xor`` of per-row hashes (the reference's Crc64Xor
    merge rule, checksum/checksum.go:26).  Scale: single full scan, partial
    aggregation per partition, no wide shuffle.

    ``canon_bytes=True`` forces the canonical (cross-engine, oracle-exact)
    byte length even in xxhash64 mode, whose default fast path sums raw
    string byte lengths (same change-detection power, Spark-only rendering).
    """
    return _triples(keyed, algo, tags, canon_bytes=canon_bytes)


def compare_checksum(
    src: Keyed,
    dst: Keyed,
    algo: str = "xxhash64",
    tags: dict[str, str] | None = None,
) -> DataFrame:
    """Two-row per-side checksum report, one Spark job.

    Instead of running src and dst concurrently from two threads (reference
    checksum/checksum.go:140-168 uses an errgroup), union both sides under a
    ``side`` label and aggregate by it — one job, one pass, same parallelism
    (SURVEY.md §3.1).
    """
    check_comparable(src, dst)
    s = src.df.select(*src.columns).withColumn("side", F.lit("src"))
    d = dst.df.select(*dst.columns).withColumn("side", F.lit("dst"))
    both = Keyed(s.unionByName(d), src.keys, src.values)
    # src before dst, deterministic report order
    return _triples(both, algo, tags, by="side").orderBy(F.desc("side"))


def checksum_verdict(src: Keyed, dst: Keyed, algo: str = "xxhash64", tags=None) -> dict:
    """Driver-side verdict — the reference's final triple comparison and
    pass/fail report (checksum/checksum.go:173-178).

    A side with zero rows in range produces no groupBy row; it reports the
    identity triple (checksum None, 0 kvs, 0 bytes) so empty == empty is a
    pass, not a crash.
    """
    empty = {"checksum": None, "total_kvs": 0, "total_bytes": 0}
    rows = {r["side"]: r.asDict() for r in compare_checksum(src, dst, algo, tags).collect()}
    s = rows.get("src", {"side": "src", **empty})
    d = rows.get("dst", {"side": "dst", **empty})
    equal = all(s[k] == d[k] for k in ("checksum", "total_kvs", "total_bytes"))
    return {"equal": equal, "src": s, "dst": d}


# ---------------------------------------------------------------------------
# Checksum manifests: incremental drift detection without the old snapshot
# ---------------------------------------------------------------------------

def range_bucket_boundaries(
    df: DataFrame, key: str, n_buckets: int = 256, rel_err: float = 0.001
) -> list[float]:
    """Quantile boundaries that split ``key`` into ~equal-COUNT buckets.

    The fixed-divisor bucket expressions (``floor(k / 1000)``) assume a
    uniform key space; under skew (zipf ids, hot tenants, timestamp bursts)
    they produce a few giant buckets — and a giant bucket defeats
    ``targeted_diff``'s whole point, because one drifted row re-reads the
    giant range.  One ``approxQuantile`` pass (Greenwald–Khanna, fully
    distributed, ``rel_err`` relative rank error) yields boundaries that
    keep buckets balanced under ANY distribution.

    REUSE CONTRACT: boundaries must be computed ONCE (from either side or
    the union) and passed to BOTH sides / stored in the manifest's meta —
    re-deriving them per side would bucket the sides differently and
    report everything as drifted.  This is the same class of contract the
    manifest's ``meta`` already validates.
    """
    import math

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    if not probs:
        return []
    qs = df.stat.approxQuantile(key, probs, rel_err)
    # dedupe (heavy repeated keys can collapse adjacent quantiles) while
    # preserving order — duplicates would create permanently-empty buckets;
    # non-finite quantiles (±inf/NaN key values) are rejected loudly — a
    # repr'd `inf` literal would not parse in the generated SQL (r8 review)
    out: list[float] = []
    for q in qs:
        if not math.isfinite(q):
            raise ValueError(
                f"key column {key!r} yields a non-finite quantile boundary "
                f"({q}) — filter ±inf/NaN keys before range bucketing"
            )
        if not out or q > out[-1]:
            out.append(float(q))
    return out


def range_bucket_col(key: str, boundaries: list[float]) -> Column:
    """Bucket id Column for :func:`range_bucket_boundaries` output: bucket =
    #boundaries ≤ key, computed as one fold over a literal boundary array —
    a plan-size-O(1) expression (the array is ONE literal, not a CASE chain)
    that both ``bucket_triples`` and ``targeted_diff`` accept directly.
    NULL keys land in bucket -1 (their own auditable bucket).
    """
    import math

    if not boundaries:
        return F.when(F.col(key).isNull(), F.lit(-1)).otherwise(F.lit(0)).cast("long")
    if any(not math.isfinite(float(b)) for b in boundaries):
        raise ValueError("range bucket boundaries must be finite")
    # backtick-escape the key: unlike the F.col expressions elsewhere, this
    # generated-SQL path would otherwise break on names needing quoting
    kq = "`" + key.replace("`", "``") + "`"
    arr = "array(" + ", ".join(repr(float(b)) for b in boundaries) + ")"
    fold = (
        f"aggregate({arr}, 0L, (acc, b) -> acc + "
        f"(CASE WHEN CAST({kq} AS DOUBLE) >= b THEN 1L ELSE 0L END))"
    )
    return (
        F.when(F.col(key).isNull(), F.lit(-1).cast("long"))
        .otherwise(F.expr(fold))
        .cast("long")
    )


def hash_bucketing(keys, n_buckets: int) -> tuple[Column, dict]:
    """``pmod(xxhash64(keys), n_buckets)`` and the meta that records it."""
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(n_buckets))
    return bucket, {"n_buckets": n_buckets}


def range_bucketing(key: str, boundaries: list[float]) -> tuple[Column, dict]:
    """:func:`range_bucket_col` buckets and the meta that records them (the
    boundaries as a JSON string, so they round-trip through parquet)."""
    bounds = [float(b) for b in boundaries]
    return range_bucket_col(key, bounds), {
        "range_key": key,
        "range_boundaries": json.dumps(bounds),
    }


def manifest_bucketing(manifest: DataFrame, keys) -> tuple[Column, dict]:
    """Rebuild the bucketing a stored manifest's metadata records: range
    buckets from its stored boundaries, else hash buckets over ``keys``."""
    cols = [c for c in manifest.columns if c not in MANIFEST_COLUMNS]
    row = manifest.select(*cols).first() if cols else None
    meta = row.asDict() if row else {}
    if "range_key" in meta:
        return range_bucketing(meta["range_key"], json.loads(meta["range_boundaries"]))
    if "n_buckets" in meta:
        return hash_bucketing(keys, int(meta["n_buckets"]))
    raise ValueError(
        "manifest records no bucketing to rebuild (no n_buckets or "
        "range_key/range_boundaries row; a manifest saved from an empty "
        "snapshot carries none) — re-save from a non-empty snapshot"
    )


def bucket_triples(keyed: Keyed, bucket, algo: str = "xxhash64") -> DataFrame:
    """Per-bucket checksum triples ``(bucket, cksum, kvs, algo)``.

    ``bucket`` is a Column over the key columns (e.g. ``floor(k / 1000)``,
    a date, a region id); it keeps its own type (long, date, string region
    id — all groupable/joinable).  ~16 bytes per bucket cross the shuffle —
    the same map-side monoid fold as :func:`checksum`, keyed by bucket.
    This is the shared core of ``targeted_diff`` and the manifest flow.
    """
    return _triples(keyed, algo, by=bucket).select(
        "bucket",
        F.col("checksum").alias("cksum"),
        F.col("total_kvs").alias("kvs"),
        F.lit(algo).alias("algo"),
    )


def drifted_buckets(a: DataFrame, b: DataFrame) -> DataFrame:
    """Unsorted full-outer compare of two ``(bucket, cksum, kvs)`` frames:
    the buckets whose triples differ (or exist on one side only), as
    ``_bucket`` plus ``a._cksum``/``a._kvs`` and ``b._cksum``/``b._kvs``.

    Both inputs are post-aggregation bucket triples (~16 bytes per bucket),
    and the full-outer equi-join is a sort-merge join BY DESIGN — Spark
    cannot broadcast a full_outer join (it preserves both sides), and at
    ~16 B/bucket the SMJ exchange is negligible next to the scans feeding it.
    """

    def side(t: DataFrame, name: str) -> DataFrame:
        return t.select(
            F.col("bucket").alias("_bucket"),
            F.col("cksum").alias("_cksum"),
            F.col("kvs").alias("_kvs"),
        ).alias(name)

    j = side(a, "a").join(side(b, "b"), on="_bucket", how="full_outer")
    same = F.col("a._cksum").eqNullSafe(F.col("b._cksum")) & F.col("a._kvs").eqNullSafe(
        F.col("b._kvs")
    )
    return j.filter(~same)


# -- the manifest format: one reader, one writer, one metadata validator ----

#: every manifest column that is not bucketing metadata
MANIFEST_COLUMNS = ("bucket", "cksum", "kvs", "algo", "last_epoch")


def read_manifest(spark, manifest: DataFrame | str) -> DataFrame | None:
    """The manifest at a path (None when there is none yet), or a manifest
    DataFrame as passed.  A crash between the two renames of a previous
    write leaves ``<path>.old`` as the only copy; it is restored first."""
    if not isinstance(manifest, str):
        return manifest
    return spark.read.parquet(manifest) if recover_swap(manifest) else None


def write_manifest(triples: DataFrame, path: str, algo: str, epoch: int, meta: dict) -> None:
    """Write ``(bucket, cksum, kvs)`` triples as the manifest at ``path``:
    one parquet file of ``bucket, cksum, kvs, algo, last_epoch`` plus one
    constant column per ``meta`` item, committed by a directory swap."""
    out = triples.select(
        "bucket",
        "cksum",
        "kvs",
        F.lit(algo).alias("algo"),
        F.lit(int(epoch)).cast("long").alias("last_epoch"),
        *[F.lit(v).alias(k) for k, v in meta.items()],
    )
    swap_commit(out, path, coalesce=1)


def _bucketing_kind(cols) -> str:
    kind = "range" if "range_key" in cols else "hash" if "n_buckets" in cols else "expression"
    return f"{kind}-bucketed (metadata {sorted(cols)})"


def validate_manifest(old: DataFrame, algo: str, meta: dict, where: str = "manifest") -> None:
    """Refuse triples built with another hash algorithm or bucketing: the
    stored metadata columns must be exactly ``meta``'s keys, and every
    stored value must equal the requested one.  An EMPTY manifest (saved
    from an empty snapshot) has no values to check, which is legitimate."""
    stored = [c for c in old.columns if c not in MANIFEST_COLUMNS]
    if set(stored) != set(meta):
        raise ValueError(
            f"{where} is {_bucketing_kind(stored)}, the request is "
            f"{_bucketing_kind(meta)} — triples of different bucketings are "
            "not comparable"
        )
    want = {"algo": algo, **meta}
    got = old.agg(*[F.collect_set(c).alias(c) for c in want]).first()
    for col, value in want.items():
        if got[col] and got[col] != [value]:
            raise ValueError(
                f"{where} was built with {col}={got[col]}, requested {value!r} "
                "— triples from different bucketings/hash algorithms are not comparable"
            )


def save_checksum_manifest(
    keyed: Keyed, path: str, bucket, algo: str = "xxhash64", meta: dict | None = None
) -> int:
    """Persist a snapshot's per-bucket checksum triples as a tiny parquet
    manifest and return the bucket count.

    The ops flow this enables: a nightly compare stores ~16 B/bucket once,
    and every later run detects WHICH key ranges drifted by comparing fresh
    triples against the manifest — the previous snapshot is never rescanned
    (at 100 TB, the difference between reading one snapshot and two).
    Findings have targeted_diff's contract: any changed/added/removed row
    flips its bucket's triple; a ~2^-64 hash collision per drifted bucket
    is the residual risk, same as the reference's Crc64Xor verdict.

    ``meta`` (e.g. from :func:`hash_bucketing` / :func:`range_bucketing`)
    records the bucketing as constant columns; every later compare or fold
    validates it, so triples built from DIFFERENT bucketings can't be
    silently compared (they would report everything as drifted).  The
    manifest is written with ``last_epoch = -1``, so a stream
    (streaming/manifest_stream.py) can continue it from epoch 0.
    """
    write_manifest(bucket_triples(keyed, bucket, algo), path, algo, -1, meta or {})
    # count the WRITTEN manifest (parquet footer metadata), not the plan —
    # re-counting the triples would rescan and re-hash the whole snapshot
    return keyed.df.sparkSession.read.parquet(path).count()


def compare_to_manifest(
    keyed: Keyed,
    manifest: DataFrame | str,
    bucket,
    algo: str = "xxhash64",
    meta: dict | None = None,
) -> DataFrame:
    """Tall drift report of ``keyed`` (the CURRENT snapshot) against a saved
    manifest: one row per drifted bucket —

    ``(bucket, status, old_cksum, new_cksum, old_kvs, new_kvs)`` with
    status ∈ {changed, only_old, only_new}.  Empty result = no drift.

    Raises if the manifest was built with a different ``algo`` or with
    bucketing metadata other than ``meta`` (see :func:`validate_manifest`).
    The current snapshot is scanned exactly once; the compare itself is
    :func:`drifted_buckets`.
    """
    old = read_manifest(keyed.df.sparkSession, manifest)
    if old is None:
        raise ValueError(f"no manifest at {manifest!r}")
    validate_manifest(old, algo, meta or {})
    status = (
        F.when(F.col("a._kvs").isNull(), F.lit("only_old"))
        .when(F.col("b._kvs").isNull(), F.lit("only_new"))
        .otherwise(F.lit("changed"))
    )
    return (
        drifted_buckets(bucket_triples(keyed, bucket, algo), old)
        .select(
            F.col("_bucket").alias("bucket"),
            status.alias("status"),
            F.col("b._cksum").alias("old_cksum"),
            F.col("a._cksum").alias("new_cksum"),
            F.col("b._kvs").alias("old_kvs"),
            F.col("a._kvs").alias("new_kvs"),
        )
        .orderBy("bucket")
    )
