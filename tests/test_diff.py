"""Metamorphic diff tests (SURVEY.md §5.3): diff(df,df)=∅; known mutations
produce exactly the expected keyed findings; checksum equality ⟺ empty diff."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.model import Keyed, to_kv
from tikv_data_compare_spark.operators.checksum import checksum_verdict
from tikv_data_compare_spark.operators.diff import (
    diff,
    diff_count,
    diff_positional,
    only_in_dst,
    only_in_src,
)


def test_diff_self_empty(kv_pair):
    src, _ = kv_pair
    assert diff(src, src).count() == 0


def test_diff_exact_findings(spark, lineitem):
    """Perturb k rows / delete m ⇒ exactly k changed + m only_src findings."""
    from tikv_data_compare_spark.model import unique_by_key

    base = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"]).cache()
    changed_keys = base.filter((F.col("l_orderkey") % 97 == 0)).count()
    deleted_keys = base.filter((F.col("l_orderkey") % 101 == 0) & (F.col("l_linenumber") == 1)).count()
    # a key can be both %97 (all linenumbers) and deleted (%101, ln=1)
    overlap = base.filter(
        (F.col("l_orderkey") % 97 == 0) & (F.col("l_orderkey") % 101 == 0) & (F.col("l_linenumber") == 1)
    ).count()

    dst = (
        base.filter(~((F.col("l_orderkey") % 101 == 0) & (F.col("l_linenumber") == 1)))
        .withColumn(
            "l_quantity",
            F.when(F.col("l_orderkey") % 97 == 0, F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
        )
    )
    s = Keyed.of(base, keys=("l_orderkey", "l_linenumber"))
    d = Keyed.of(dst, keys=("l_orderkey", "l_linenumber"))
    counts = {r["status"]: r["n"] for r in diff_count(s, d).collect()}
    assert counts.get("only_src", 0) == deleted_keys
    assert counts.get("changed", 0) == changed_keys - overlap
    assert "only_dst" not in counts

    assert only_in_src(s, d).count() == deleted_keys
    assert only_in_dst(s, d).count() == 0


def test_diff_detects_inserts(spark, lineitem):
    from tikv_data_compare_spark.model import unique_by_key

    base = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"])
    extra = base.limit(5).withColumn("l_orderkey", F.col("l_orderkey") + F.lit(10_000_000))
    d = Keyed.of(base.unionByName(extra), keys=("l_orderkey", "l_linenumber"))
    s = Keyed.of(base, keys=("l_orderkey", "l_linenumber"))
    counts = {r["status"]: r["n"] for r in diff_count(s, d).collect()}
    assert counts == {"only_dst": 5}


def test_checksum_iff_diff_empty(kv_pair):
    src, dst = kv_pair
    assert checksum_verdict(src, src)["equal"] == (diff(src, src).count() == 0)
    assert checksum_verdict(src, dst)["equal"] == (diff(src, dst).count() == 0)


def test_positional_diff_value_mutation(spark, lineitem):
    """With equal cardinality and aligned keys, positional == keyed findings."""
    from tikv_data_compare_spark.model import unique_by_key

    base = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"]).limit(1000).cache()
    mutated = base.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 50 == 0, F.col("l_quantity") + 9).otherwise(F.col("l_quantity")),
    )
    s = Keyed(to_kv(base, ["l_orderkey", "l_linenumber"]))
    d = Keyed(to_kv(mutated, ["l_orderkey", "l_linenumber"]))
    pos = diff_positional(s, d).count()
    keyed = diff(s, d).count()
    assert pos == keyed > 0


def test_positional_diff_misalignment_quirk(spark):
    """Documented reference quirk (SURVEY.md §4): one deletion desynchronizes
    the positional tail, while keyed diff reports exactly one finding."""
    rows = [(bytes([i]), bytes([i])) for i in range(10)]
    src = Keyed(spark.createDataFrame(rows, "key binary, value binary"))
    dst = Keyed(spark.createDataFrame(rows[:3] + rows[4:], "key binary, value binary"))
    assert diff(src, dst).count() == 1
    assert diff_positional(src, dst).count() == 6  # positions 3..8 misaligned


def test_column_mismatch_profile(spark):
    from tikv_data_compare_spark.operators.diff import column_mismatch_profile

    src = Keyed.of(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "k long, s string, v long",
        ),
        keys=("k",),
    )
    dst = Keyed.of(
        spark.createDataFrame(
            # key 1 unchanged; key 2 differs in s; key 3 differs in both;
            # key 5 only in dst (must not count toward any column)
            [(1, "a", 10), (2, "B", 20), (3, "C", 31), (5, "e", 50)],
            "k long, s string, v long",
        ),
        keys=("k",),
    )
    rows = {r["col_name"]: r for r in column_mismatch_profile(src, dst).collect()}
    assert rows["s"]["n_mismatch"] == 2 and rows["v"]["n_mismatch"] == 1
    assert all(r["n_both"] == 3 for r in rows.values())


def test_column_mismatch_profile_rejects_keys_only(spark):
    import pytest

    from tikv_data_compare_spark.operators.diff import column_mismatch_profile

    keys_only = Keyed.of(spark.createDataFrame([(1,), (2,)], "k long"), keys=("k",))
    with pytest.raises(ValueError, match="value column"):
        column_mismatch_profile(keys_only, keys_only)


def test_targeted_diff_equals_full_diff(spark):
    """Checksum-localized diff must produce byte-identical findings to the
    full keyed diff (no finding can hide inside a matching bucket), while
    restricting the row join to mismatched buckets only."""
    from tikv_data_compare_spark.operators.diff import targeted_diff

    src_df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    # mutations concentrated in a few buckets: update %97, delete %251,
    # insert shifted keys
    dst_df = (
        src_df.filter(F.col("k") % 251 != 0)
        .withColumn(
            "v", F.when(F.col("k") % 97 == 0, F.col("v") + 1).otherwise(F.col("v"))
        )
        .unionByName(
            spark.range(0, 5).select(
                (F.col("id") + 10_000).alias("k"), F.lit(-1).alias("v")
            )
        )
    )
    src, dst = Keyed.of(src_df, keys=("k",)), Keyed.of(dst_df, keys=("k",))
    bucket = (F.col("k") / 100).cast("long")
    got = sorted(tuple(r) for r in targeted_diff(src, dst, bucket).collect())
    ref = sorted(tuple(r) for r in diff(src, dst).collect())
    assert got == ref and len(ref) > 0


def test_schema_diff_itemizes_drift(spark):
    from tikv_data_compare_spark.model import schema_diff

    a = spark.createDataFrame([(1, "x", 1.0)], "k long, s string, v double")
    b = spark.createDataFrame([(1, "x", 2)], "k long, s string, v long").withColumn(
        "extra", F.lit(True)
    )
    got = schema_diff(a, b)
    assert got == [
        {"column": "extra", "status": "only_dst", "src_type": None, "dst_type": "boolean"},
        {"column": "v", "status": "type_changed", "src_type": "double", "dst_type": "bigint"},
    ]
    assert schema_diff(a, a) == []


def test_profile_compare_closed_form(spark):
    """Per-column stats drift on hand-built frames: null appearance,
    cardinality change, range shift, and a clean column."""
    from tikv_data_compare_spark.operators.diff import profile_compare

    src = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    dst = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", 99)], "k long, s string, v long"
    )
    rows = {
        r["col_name"]: r
        for r in profile_compare(
            Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",))
        ).collect()
    }
    assert set(rows) == {"k", "s", "v"}
    k = rows["k"]
    assert (k["src_n_nulls"], k["dst_n_nulls"], k["drifted"]) == (0, 0, 0)
    assert k["src_n_distinct"] == k["dst_n_distinct"] == 3
    s = rows["s"]
    assert (s["src_n_nulls"], s["dst_n_nulls"]) == (0, 1)
    assert (s["src_n_distinct"], s["dst_n_distinct"]) == (3, 2)
    assert s["drifted"] == 1
    v = rows["v"]
    assert (v["src_max_c"], v["dst_max_c"]) != (None, None)
    assert v["src_max_c"] != v["dst_max_c"] and v["drifted"] == 1


def test_profile_compare_plan_and_approx_path(spark):
    """Plan shape: no join of the INPUTS (only the tiny per-column stats
    pivot joins), partial aggregation present; the approx=True 100 TB path
    must avoid the multi-distinct Expand and agree with exact stats on
    everything but the (estimated) distinct columns."""
    from tikv_data_compare_spark import plans
    from tikv_data_compare_spark.operators.diff import profile_compare

    src = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    dst = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    out = profile_compare(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)))
    assert not plans.has_cartesian(out)
    assert plans.has_partial_aggregation(out)
    # exact mode pays the multi-distinct Expand; approx mode must not
    assert "Expand" in plans.plan_string(out)
    ap = profile_compare(
        Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), approx=True
    )
    assert "Expand" not in plans.plan_string(ap)
    rows = {r["col_name"]: r for r in ap.collect()}
    assert rows["k"]["src_n_nulls"] == 0 and rows["k"]["src_min_c"] is not None
    # HLL estimate of 100 distinct longs at rsd=0.05 lands well within 3σ
    assert abs(rows["k"]["src_n_distinct"] - 100) <= 15


def test_profile_compare_approx_3rsd_contract(spark):
    """The gated accuracy contract (checksum_range_compare part
    'col_profile', n6): on real fixture data every column's HLL++ estimate
    lands within 3·rsd of the exact distinct count on BOTH sides — the
    profile_orders approx_ok rule applied to the drift gate."""
    from tikv_data_compare_spark.operators.diff import profile_compare

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dst = orders.filter(F.col("o_orderkey") % 7 != 0)
    ks, kd = Keyed.of(orders, keys=("o_orderkey",)), Keyed.of(dst, keys=("o_orderkey",))
    rsd = 0.05
    exact = {r["col_name"]: r for r in profile_compare(ks, kd).collect()}
    approx = {r["col_name"]: r for r in profile_compare(ks, kd, approx=True, rsd=rsd).collect()}
    assert exact.keys() == approx.keys() and len(exact) == 4
    for c in exact:
        for side in ("src", "dst"):
            e = exact[c][f"{side}_n_distinct"]
            a = approx[c][f"{side}_n_distinct"]
            assert abs(a - e) <= 3 * rsd * e, (c, side, e, a)
        # nulls and canonical min/max stay EXACT in approx mode
        for stat in ("n_nulls", "min_c", "max_c"):
            for side in ("src", "dst"):
                assert approx[c][f"{side}_{stat}"] == exact[c][f"{side}_{stat}"]


def test_diff_tolerant_semantics(spark):
    """Per-column tolerance: sub-eps float jitter suppressed, real drift
    reported, NULL transitions always reported, non-tolerance columns stay
    exact, one-sided rows unaffected."""
    from tikv_data_compare_spark.operators.diff import diff_tolerant

    src = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c"), (4, None, "d"), (5, 50.0, "e")],
        "k long, p double, s string",
    )
    dst = spark.createDataFrame(
        [
            (1, 10.0000001, "a"),  # sub-eps jitter -> equal
            (2, 21.0, "b"),        # real drift -> changed
            (3, 30.0, "x"),        # exact column drift -> changed
            (4, 40.0, "d"),        # NULL -> value transition -> changed
            (6, 60.0, "f"),        # insert -> only_dst; 5 -> only_src
        ],
        "k long, p double, s string",
    )
    got = {
        r["k"]: r["status"]
        for r in diff_tolerant(
            Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": 0.001}
        ).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "changed",
                   5: "only_src", 6: "only_dst"}
    with pytest.raises(ValueError, match="not a value column"):
        diff_tolerant(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"k": 0.1})
    with pytest.raises(ValueError, match=">= 0"):
        diff_tolerant(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": -1})


def test_diff_tolerant_validation_and_nan(spark):
    """r8 review hardening: non-numeric / NaN-eps tolerances are rejected;
    NaN data pairs stay EQUAL (tolerance only relaxes, never tightens);
    integer drift of 1 at 2^53 magnitude is still detected (native-type
    arithmetic, no premature double cast)."""
    from tikv_data_compare_spark.operators.diff import diff_tolerant

    nan = float("nan")
    src = spark.createDataFrame(
        [(1, nan, "a", 9007199254740993), (2, 5.0, "b", 7)],
        "k long, p double, s string, big long",
    )
    dst = spark.createDataFrame(
        [(1, nan, "a", 9007199254740992), (2, 5.0, "c", 7)],
        "k long, p double, s string, big long",
    )
    with pytest.raises(ValueError, match="non-numeric"):
        diff_tolerant(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"s": 0.1})
    with pytest.raises(ValueError, match="finite"):
        diff_tolerant(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": nan})
    # diff itself validates too: a NaN eps must not pass every row as equal
    with pytest.raises(ValueError, match="finite"):
        diff(Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), tolerances={"p": nan})
    got = {
        r["k"]: r["status"]
        for r in diff_tolerant(
            Keyed.of(src, keys=("k",)),
            Keyed.of(dst, keys=("k",)),
            {"p": 0.001, "big": 0.5},
        ).collect()
    }
    # key 1: NaN==NaN equal via eqNullSafe, but big drifts by exactly 1 at
    # 2^53 (invisible after a double cast) -> changed; key 2: s drift exact
    assert got == {1: "changed", 2: "changed"}
    # NaN pair alone (no other drift): NOT reported
    same_big = dst.withColumn("big", F.lit(9007199254740993))
    got2 = diff_tolerant(
        Keyed.of(src.filter("k = 1"), keys=("k",)),
        Keyed.of(same_big.filter("k = 1"), keys=("k",)),
        {"p": 0.001, "big": 0.5},
    ).count()
    assert got2 == 0


def test_diff_tolerant_relative_mode(spark):
    """(abs_eps, rel) tolerance: |src-dst| <= max(abs, rel*max(|src|,|dst|)).
    Relative drift scales with magnitude (same ppm jitter suppressed at any
    size, same ppm drift detected at any size); the abs floor — not rel —
    governs near zero; validation rejects malformed tuples."""
    from tikv_data_compare_spark.operators.diff import diff_tolerant

    src = spark.createDataFrame(
        [(1, 1e6), (2, 1e6), (3, 1e-3), (4, 0.0), (5, 1e-12), (6, -100.0)],
        "k long, p double",
    )
    dst = spark.createDataFrame(
        [
            (1, 1e6 * (1 + 1e-7)),   # 0.1 ppm jitter on a big value -> equal
            (2, 1e6 * 1.01),         # 1% drift on a big value -> changed
            (3, 1.1e-3),             # 10% drift on a small value -> changed
                                     # (a fixed eps sized for k=1 would hide it)
            (4, 5e-10),              # near zero: inside the abs floor -> equal
            (5, 2e-12),              # both tiny, delta under abs floor -> equal
            (6, -100.000001),        # sign-symmetric: |.|-based band -> equal
        ],
        "k long, p double",
    )
    got = {
        r["k"]: r["status"]
        for r in diff_tolerant(
            Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": (1e-9, 1e-5)}
        ).collect()
    }
    assert got == {2: "changed", 3: "changed"}
    with pytest.raises(ValueError, match="abs_eps, rel"):
        diff_tolerant(
            Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": (0.1, 0.2, 0.3)}
        )
    with pytest.raises(ValueError, match="finite"):
        diff_tolerant(
            Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"p": (0.1, -0.2)}
        )


def test_diff_tolerant_no_integer_wrap(spark):
    """r8 high review: a drift of 2^64-1 on a long column must be reported
    (native 64-bit subtraction would wrap to -1 under non-ANSI and pass a
    1.0 tolerance)."""
    from tikv_data_compare_spark.operators.diff import diff_tolerant

    src = spark.createDataFrame([(1, 9223372036854775807)], "k long, big long")
    dst = spark.createDataFrame([(1, -9223372036854775808)], "k long, big long")
    got = diff_tolerant(
        Keyed.of(src, keys=("k",)), Keyed.of(dst, keys=("k",)), {"big": 1.0}
    ).collect()
    assert len(got) == 1 and got[0]["status"] == "changed"
