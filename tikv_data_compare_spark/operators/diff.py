"""Diff operators — the reference's `diff` subcommand, done right.

Reference semantics (diff/diff.go:18-63): lock-step scan both clusters and
print every position where key or value differs.  That algorithm is
*positional* — one insertion desynchronizes the tail, and dst pagination is
driven by src's last key (diff/diff.go:59), so inserts/deletes garble the
report.  SURVEY.md §4 flags this as a quirk not to replicate.

This engine's canonical diff is **keyed**: a full-outer join on the key
columns with a status classification — strictly more correct (one-sided rows
are reported as only_src/only_dst instead of corrupting the tail) and exactly
Spark's sweet spot: a sort-merge join on the key, both sides shuffled once on
the same key, AQE handling skew.  The reference's lock-step merge loop *is* a
hand-written sort-merge join (SURVEY.md §4); we let Spark plan it.

``diff_positional`` is kept as a documented compatibility mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tikv_data_compare_spark.model import Keyed, check_comparable

STATUS_CHANGED = "changed"
STATUS_ONLY_SRC = "only_src"
STATUS_ONLY_DST = "only_dst"
STATUS_EQUAL = "equal"


def diff(
    src: Keyed,
    dst: Keyed,
    include_equal: bool = False,
    tolerances: "dict[str, float | tuple[float, float]] | None" = None,
) -> DataFrame:
    """Keyed full-outer diff.

    Returns ``[*keys, status, src_<v>..., dst_<v>...]`` with status ∈
    {changed, only_src, only_dst} (plus equal when ``include_equal``).

    The mismatch predicate is the reference's F2 (diff/diff.go:49) applied
    per value column with null-safe equality; one-sided rows replace the
    reference's cardinality warning (diff/diff.go:44-46) with exact findings.

    ``tolerances`` relaxes listed numeric columns: a float value is
    an absolute epsilon (``|src − dst| <= eps``); an ``(abs_eps, rel)``
    tuple is the numpy.isclose-style band
    ``|src − dst| <= max(abs_eps, rel · max(|src|, |dst|))`` — relative
    drift for the bulk of the range plus the absolute floor that keeps
    near-zero values comparable (``rel`` alone can never suppress noise
    around 0).  Null-safe equality short-circuits first, so both-NULL (and
    NaN==NaN, Spark's eqNullSafe semantics) stay EQUAL and a tolerance can
    only ever RELAX the exact predicate, never tighten it; the subtraction
    runs in the column's OWN numeric type (exact for integers/decimals — a
    premature double cast would hide a drift of 1 at 2⁵³ magnitude).
    Validation: tolerance columns must be value columns of a NUMERIC type (a
    silently-nulling string cast would suppress all drift in the column),
    and every eps must be a FINITE number ≥ 0 (NaN compares
    greater-than-everything in Spark, which would make every row "within
    tolerance").
    """
    check_comparable(src, dst)
    _check_tolerances(src, tolerances or {})
    keys = list(src.keys)
    s = src.df.select(
        *keys,
        *[F.col(v).alias(f"src_{v}") for v in src.values],
        F.lit(True).alias("_in_src"),
    )
    d = dst.df.select(
        *keys,
        *[F.col(v).alias(f"dst_{v}") for v in dst.values],
        F.lit(True).alias("_in_dst"),
    )
    j = s.join(d, on=keys, how="full_outer")

    integral = {"long", "integer", "short", "byte"}
    dtypes = {f.name: f.dataType.typeName() for f in src.df.schema.fields}
    value_mismatch = F.lit(False)
    for v in src.values:
        a, b = F.col(f"src_{v}"), F.col(f"dst_{v}")
        if tolerances and v in tolerances:
            # integral columns subtract in decimal(38,0): native 64-bit
            # subtraction WRAPS under non-ANSI for drifts >= 2^63, which
            # would report an astronomical drift as within tolerance (r8
            # review); decimal is exact and comparison vs the double eps
            # promotes losslessly for any in-tolerance magnitude
            if dtypes.get(v) in integral:
                delta = F.abs(a.cast("decimal(38,0)") - b.cast("decimal(38,0)"))
            else:
                delta = F.abs(a - b)
            spec = tolerances[v]
            if isinstance(spec, tuple):
                abs_eps, rel = spec
                band = F.greatest(
                    F.lit(float(abs_eps)),
                    F.lit(float(rel)) * F.greatest(F.abs(a), F.abs(b)).cast("double"),
                )
            else:
                band = F.lit(float(spec))
            within = a.eqNullSafe(b) | (
                a.isNotNull() & b.isNotNull() & (delta <= band)
            )
            value_mismatch = value_mismatch | ~within
        else:
            value_mismatch = value_mismatch | ~a.eqNullSafe(b)

    status = (
        F.when(F.col("_in_dst").isNull(), F.lit(STATUS_ONLY_SRC))
        .when(F.col("_in_src").isNull(), F.lit(STATUS_ONLY_DST))
        .when(value_mismatch, F.lit(STATUS_CHANGED))
        .otherwise(F.lit(STATUS_EQUAL))
    )
    out = j.withColumn("status", status).drop("_in_src", "_in_dst")
    if not include_equal:
        out = out.filter(F.col("status") != STATUS_EQUAL)
    return out.select(*keys, "status", *[f"src_{v}" for v in src.values], *[f"dst_{v}" for v in dst.values])


def _check_tolerances(src: Keyed, tolerances: dict) -> None:
    import math

    numeric = {"double", "float", "long", "integer", "short", "byte", "decimal"}
    dtypes = {f.name: f.dataType.typeName() for f in src.df.schema.fields}
    for c, spec in tolerances.items():
        if c not in src.values:
            raise ValueError(f"tolerance column {c!r} is not a value column {src.values}")
        if dtypes.get(c) not in numeric:
            raise ValueError(
                f"tolerance column {c!r} has non-numeric type {dtypes.get(c)!r} — "
                "a tolerance there would silently suppress all drift"
            )
        parts = spec if isinstance(spec, tuple) else (spec,)
        if isinstance(spec, tuple) and len(spec) != 2:
            raise ValueError(
                f"tolerance for {c!r} must be eps or (abs_eps, rel), got {spec!r}"
            )
        for eps in parts:
            if not (isinstance(eps, (int, float)) and math.isfinite(eps) and eps >= 0):
                raise ValueError(
                    f"tolerance for {c!r} must be finite number(s) >= 0, got {spec!r}"
                )


def diff_tolerant(
    src: Keyed,
    dst: Keyed,
    tolerances: "dict[str, float | tuple[float, float]]",
    include_equal: bool = False,
) -> DataFrame:
    """Keyed diff with per-column NUMERIC tolerance: a column listed in
    ``tolerances`` counts equal when its drift is within the band (both-NULL
    is equal, one-sided NULL differs); every other column keeps the exact
    null-safe equality of :func:`diff`.  A float value is an absolute
    epsilon; an ``(abs_eps, rel)`` tuple adds RELATIVE tolerance —
    ``|src − dst| <= max(abs_eps, rel · max(|src|, |dst|))`` — the form
    recompute drift actually takes at scale (float error is proportional
    to magnitude; a fixed eps is simultaneously too loose for small values
    and too tight for large ones).

    Why it exists: re-encoded or recomputed float columns legitimately
    jitter in the last ulps (codec roundtrips, aggregation re-orders,
    compression transcodes), and the reference's byte-exact compare
    reports that noise as drift — at 100 TB, millions of false findings
    drowning the real ones.  It only calls :func:`diff`, which validates
    the tolerances and keeps the single full-outer sort-merge join and
    output shape (one scaffolding, two predicates, so the paths cannot
    diverge); the tolerance predicate stays inside whole-stage codegen (no
    UDF).  Semantics are pinned by tests/test_diff.py.
    """
    return diff(src, dst, include_equal=include_equal, tolerances=tolerances)


def only_in_src(src: Keyed, dst: Keyed) -> DataFrame:
    """Keys present in src but not dst (reference J2, the explicit form of the
    count warning at diff/diff.go:44-46).  left_anti — no wide row payload
    crosses the shuffle for the dst side."""
    check_comparable(src, dst)
    return src.df.join(dst.df.select(*dst.keys), on=list(src.keys), how="left_anti")


def only_in_dst(src: Keyed, dst: Keyed) -> DataFrame:
    return dst.df.join(src.df.select(*src.keys), on=list(dst.keys), how="left_anti")


ACTION_UPSERT = "upsert"
ACTION_DELETE = "delete"


def repair_plan(src: Keyed, dst: Keyed) -> DataFrame:
    """Reconciliation plan: the minimal keyed action set that makes dst equal
    src.

    ``upsert`` rows carry the src payload for keys that are missing from dst
    or whose values differ; ``delete`` rows carry typed NULL payloads for
    keys present only in dst.  Extends the reference's report-only diff
    (diff/diff.go:49-62) into an actionable MERGE-shaped output — same single
    full-outer sort-merge join as :func:`diff`, one shuffle per side, no
    extra passes.  :func:`apply_repair` proves the invariant
    ``apply_repair(dst, repair_plan(src, dst)) == src``.
    """
    check_comparable(src, dst)
    keys = list(src.keys)
    d = diff(src, dst)
    dtypes = {f.name: f.dataType for f in src.df.schema.fields}
    ups = d.filter(F.col("status").isin(STATUS_CHANGED, STATUS_ONLY_SRC)).select(
        *keys,
        F.lit(ACTION_UPSERT).alias("action"),
        *[F.col(f"src_{v}").alias(v) for v in src.values],
    )
    dels = d.filter(F.col("status") == STATUS_ONLY_DST).select(
        *keys,
        F.lit(ACTION_DELETE).alias("action"),
        *[F.lit(None).cast(dtypes[v]).alias(v) for v in src.values],
    )
    return ups.unionByName(dels)


def apply_repair(dst: Keyed, plan: DataFrame) -> DataFrame:
    """Apply a :func:`repair_plan` to dst: drop every keyed row the plan
    touches (both delete targets and upsert keys), then append the upsert
    payloads.  One anti-join + one union — the batch analogue of MERGE INTO.
    Returns a DataFrame with dst's column order."""
    keys = list(dst.keys)
    untouched = dst.df.join(plan.select(*keys), on=keys, how="left_anti")
    ups = plan.filter(F.col("action") == ACTION_UPSERT).select(*keys, *dst.values)
    return untouched.unionByName(ups)


def targeted_diff(src: Keyed, dst: Keyed, bucket, algo: str = "xxhash64") -> DataFrame:
    """Checksum-localized diff — the reference's actual large-scale ops
    workflow (per-region checksums first, row diff second) as ONE operator:

    1. per-bucket checksum triples of both sides (``bucket`` is a Column
       expression over the key columns — e.g. a key range, a hash prefix,
       or a region id), ~32 bytes per bucket per side across the shuffle;
    2. full-outer compare of the triples → the (small) set of mismatched
       buckets;
    3. keyed :func:`diff`, with BOTH inputs pre-filtered by a broadcast
       semi-join on the mismatched buckets — so the expensive full-outer
       row join only ever reads the ranges that are actually different.

    Findings are IDENTICAL to ``diff(src, dst)`` (any differing/one-sided
    row makes its bucket's triple mismatch, so no finding can hide in a
    matching bucket — pytest-proven equivalence), but at 100 TB with 0.1%
    drift the row-level join touches ~0.1% of the data instead of all of
    it.  The checksum pass still scans both sides once; the win is on the
    wide shuffle + join, which dominates.

    ``algo`` only affects the internal bucket checksums (mismatch
    localization), never the findings — default is the fast JVM xxhash64
    made null-safe by interleaved ``isNull()`` markers
    (checksum._null_safe_children), so rows differing only in which column
    holds a NULL (column-shift drift) still flip their bucket's triple.  A
    residual hash collision can at worst skip a drifted bucket with
    probability ~2⁻⁶⁴ per drifted bucket, the same failure class the
    reference accepts for its whole checksum verdict.
    """
    from tikv_data_compare_spark.operators.checksum import (
        bucket_triples,
        drifted_buckets,
    )

    check_comparable(src, dst)
    # the same triples and compare as the manifest flow (checksum.py), so
    # the pytest-pinned manifest/targeted_diff bucket-set agreement holds
    bad = drifted_buckets(
        bucket_triples(src, bucket, algo), bucket_triples(dst, bucket, algo)
    ).select("_bucket")

    def restrict(k: Keyed) -> Keyed:
        filtered = (
            k.df.withColumn("_bucket", bucket)
            .join(F.broadcast(bad), on="_bucket", how="left_semi")
            .drop("_bucket")
        )
        return Keyed(filtered, k.keys, k.values)

    return diff(restrict(src), restrict(dst))


def diff_count(src: Keyed, dst: Keyed) -> DataFrame:
    """Aggregate diff summary: count per status — cheap verdict without
    materializing per-row findings."""
    return diff(src, dst).groupBy("status").agg(F.count(F.lit(1)).alias("n")).orderBy("status")


def column_mismatch_profile(src: Keyed, dst: Keyed) -> DataFrame:
    """Per-column mismatch breakdown of the keyed diff: for every value
    column, how many keys present on BOTH sides carry a differing value
    (null-safe inequality), alongside the shared-key count.

    This is the drill-down the reference's per-row report (diff/diff.go:49-62)
    can't answer — "which column drifted?" — and the natural next step after
    :func:`diff_count` says ``changed > 0``.  Shape: :func:`diff`
    with ``include_equal=True`` (its single full-outer sort-merge join),
    keeping the keys present on both sides (status changed or equal),
    collapsed by one conditional aggregate into a single row, then
    unpivoted inside Spark via ``stack`` into one row per column.  At
    100 TB: one shuffle per side, constant-size output.  Covered by
    tests/test_diff.py against hand-built mismatch fixtures.
    """
    if not src.values:
        raise ValueError(
            "column_mismatch_profile needs at least one value column; a keys-only "
            "Keyed has no columns to profile (use diff_count for presence-only diffs)"
        )
    both = diff(src, dst, include_equal=True).filter(
        F.col("status").isin(STATUS_CHANGED, STATUS_EQUAL)
    )
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("_n_both"),
        *[
            F.count(F.when(~F.col(f"src_{v}").eqNullSafe(F.col(f"dst_{v}")), 1))
            .cast("long")
            .alias(f"_mm_{v}")
            for v in src.values
        ],
    )
    pairs = ", ".join(f"'{v}', _mm_{v}" for v in src.values)
    return agg.select(
        F.expr(f"stack({len(src.values)}, {pairs})").alias("col_name", "n_mismatch"),
        F.col("_n_both").alias("n_both"),
    )


def profile_compare(src: Keyed, dst: Keyed, approx: bool = False,
                    rsd: float = 0.05) -> DataFrame:
    """Per-column STATS drift between two snapshots — the cheap gate run
    before any row-level compare: for every column, null count, distinct
    count, and min/max (canonical string rendering, so mixed column types
    stack into one tall frame deterministically) on EACH side, plus a
    ``drifted`` flag when any of the four differ.

    Complements :func:`column_mismatch_profile` (which needs the keyed
    join): this one is join-free — two scans and one aggregation over the
    labeled union.  Honest cost note: with ``approx=False`` the exact
    per-column ``count_distinct`` forces Catalyst's multi-distinct Expand
    (input replicated once per column; per-column distinct values cross
    the shuffle) — fine at oracle/audit scale, NOT the 100 TB shape.  At
    100 TB pass ``approx=True``: HyperLogLog++ sketches (relative sd
    ``rsd``) keep the shuffle at sketch-sized state per column with no
    Expand, at the price that the distinct columns (and the drift flag
    fed by them) are estimates — a cardinality move must exceed sketch
    noise to register, while nulls/min/max stay exact.  A clean profile
    never proves equality (that's the checksum's job); a drifted one
    localizes WHAT kind of change happened before any expensive work.
    Covered by tests/test_diff.py with closed-form fixtures.
    """
    from tikv_data_compare_spark.functions import sqlgen

    check_comparable(src, dst)
    cols = list(src.columns)
    tags = sqlgen.tags_from_spark_schema(src.df)
    both = src.df.select(*cols).withColumn("_side", F.lit("src")).unionByName(
        dst.df.select(*cols).withColumn("_side", F.lit("dst"))
    )
    aggs = []
    for c in cols:
        canon = sqlgen.canon(c, tags.get(c, sqlgen.STRING), sqlgen.SPARK)
        aggs.append(F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"nn_{c}"))
        nd = (
            F.approx_count_distinct(F.col(c), rsd)
            if approx
            else F.count_distinct(F.col(c))
        )
        aggs.append(nd.cast("long").alias(f"nd_{c}"))
        aggs.append(F.min(F.expr(canon)).alias(f"mn_{c}"))
        aggs.append(F.max(F.expr(canon)).alias(f"mx_{c}"))
    wide = both.groupBy("_side").agg(*aggs)
    pairs = ", ".join(f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols)
    tall = wide.select(
        "_side",
        F.expr(
            f"stack({len(cols)}, {pairs}) AS (col_name, n_nulls, n_distinct, min_c, max_c)"
        ),
    )
    s = tall.filter(F.col("_side") == "src").drop("_side")
    d = tall.filter(F.col("_side") == "dst").drop("_side")
    j = s.alias("s").join(d.alias("d"), on="col_name", how="full_outer")
    drifted = None
    sel = [F.col("col_name")]
    for c in ("n_nulls", "n_distinct", "min_c", "max_c"):
        sel.append(F.col(f"s.{c}").alias(f"src_{c}"))
        sel.append(F.col(f"d.{c}").alias(f"dst_{c}"))
        neq = ~F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        drifted = neq if drifted is None else (drifted | neq)
    sel.append(drifted.cast("long").alias("drifted"))
    return j.select(*sel)


def diff_positional(src: Keyed, dst: Keyed) -> DataFrame:
    """Reference-compatible positional diff (diff/diff.go:35-60).

    Pairs the i-th src row with the i-th dst row in global key order and
    reports positions where key or value differs.  Kept as a compatibility
    mode: positional semantics misalign after an insert/delete (SURVEY.md §4
    quirks).  Positions are assigned per-side with a global-order window —
    report-sized use only; the scalable path is ``diff`` (keyed).
    """
    check_comparable(src, dst)

    def with_pos(k: Keyed, side: str) -> DataFrame:
        w = Window.orderBy(*[F.col(c) for c in k.keys])
        return k.df.select(
            (F.row_number().over(w) - 1).alias("pos"),
            *[F.col(c).alias(f"{side}_{c}") for c in (*k.keys, *k.values)],
        )

    s, d = with_pos(src, "src"), with_pos(dst, "dst")
    j = s.join(d, on="pos", how="inner")  # reference compares min(len) positions
    mismatch = F.lit(False)
    for c in (*src.keys, *src.values):
        mismatch = mismatch | ~F.col(f"src_{c}").eqNullSafe(F.col(f"dst_{c}"))
    return j.filter(mismatch).orderBy("pos")
