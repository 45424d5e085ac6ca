"""Structured Streaming tests: incremental diff + watermarked window agg."""

import pytest
from pyspark.sql import functions as F

from tikv_data_compare_spark.model import Keyed
from tikv_data_compare_spark.streaming.diff_stream import diff_stream, windowed_counts


@pytest.fixture()
def stream_dir(spark, tmp_path, lineitem):
    """A small parquet dir usable as a file stream source."""
    from tikv_data_compare_spark.model import unique_by_key

    base = unique_by_key(lineitem, ["l_orderkey", "l_linenumber"]).limit(200)
    path = str(tmp_path / "stream_src")
    base.coalesce(1).write.mode("overwrite").parquet(path)
    return path, base


def test_diff_stream_finds_mutations(spark, stream_dir):
    path, base = stream_dir
    schema = base.schema
    # reference = base with 5 quantities perturbed → those arrive as 'changed'
    reference = Keyed.of(
        base.withColumn(
            "l_quantity",
            F.when(F.col("l_orderkey") % 37 == 0, F.col("l_quantity") + 3).otherwise(
                F.col("l_quantity")
            ),
        ),
        keys=("l_orderkey", "l_linenumber"),
    )
    expected = base.filter(F.col("l_orderkey") % 37 == 0).count()
    assert expected > 0

    stream = spark.readStream.schema(schema).parquet(path)
    got = []
    q = diff_stream(
        stream,
        reference,
        keys=("l_orderkey", "l_linenumber"),
        on_batch=lambda df, epoch: got.extend(df.collect()),
    )
    q.awaitTermination(120)
    assert sum(1 for r in got if r["status"] == "changed") == expected
    assert all(r["status"] in ("changed", "only_dst") for r in got)


def test_windowed_counts_stream(spark, tmp_path):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(minutes=20 * i), "click", 1.0)
        for i in range(9)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    path = str(tmp_path / "events_src")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema(df.schema).parquet(path)
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        (r["window_start"].isoformat(), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # 9 events at 20-min spacing → 3 per hour window
    assert sum(out.values()) == 9
    assert all(n == 3 for n in out.values())


def test_stateful_sessionize_spans_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer: a session OPEN at the end of batch
    1 must absorb batch-2 events within the gap, and a >gap event opens
    session 2 — state carries across micro-batches."""
    import os
    import time

    import pandas as pd

    from tikv_data_compare_spark.streaming.stateful import (
        latest_snapshots,
        sessionize_stateful,
    )

    m = 60_000
    d = tmp_path / "chunks"
    d.mkdir()
    # batch 1: two events 10 min apart; batch 2: +20 min (same session),
    # then +2 h (new session); second user only in batch 2
    c1 = pd.DataFrame({"user_id": [1, 1], "event_id": [10, 11], "ms": [0, 10 * m]})
    c2 = pd.DataFrame(
        {"user_id": [1, 1, 2], "event_id": [12, 13, 20], "ms": [30 * m, 150 * m, 5 * m]}
    )
    t0 = time.time() - 600
    for i, c in enumerate((c1, c2)):
        p = str(d / f"chunk_{i}.parquet")
        c.to_parquet(p)
        os.utime(p, (t0 + i * 60, t0 + i * 60))

    stream = (
        spark.readStream.schema("user_id long, event_id long, ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    emissions = sessionize_stateful(stream, "user_id", "ms", "event_id", gap_ms=30 * m)
    sink = str(tmp_path / "out")

    def on_batch(b, epoch):
        b.write.mode("overwrite").parquet(os.path.join(sink, f"epoch_{epoch}"))

    q = (
        emissions.writeStream.foreachBatch(on_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    epochs = [os.path.join(sink, p) for p in sorted(os.listdir(sink))]
    ddl = "user_id long, session_idx long, n_events long, duration_ms long, first_event long, ver long"
    final = latest_snapshots(spark.read.schema(ddl).parquet(*epochs), "user_id")
    rows = {(r["user_id"], r["session_idx"]): r for r in final.collect()}
    assert rows[(1, 1)]["n_events"] == 3  # 0, 10min, 30min — spans both batches
    assert rows[(1, 1)]["duration_ms"] == 30 * m
    assert rows[(1, 1)]["first_event"] == 10
    assert rows[(1, 2)]["n_events"] == 1  # the 150min event, 2h gap
    assert rows[(2, 1)]["n_events"] == 1
    assert len(rows) == 3


def test_stream_dedup_suppresses_across_batches(spark, tmp_path):
    """dropDuplicates state: rows whose content appeared in an EARLIER
    micro-batch emit nothing in later batches."""
    import os
    import time

    import pandas as pd

    d = tmp_path / "chunks"
    d.mkdir()
    c1 = pd.DataFrame({"doc_id": [1, 2], "text": ["aaa", "bbb"]})
    c2 = pd.DataFrame({"doc_id": [3, 4], "text": ["aaa", "ccc"]})  # 'aaa' is a cross-batch dup
    t0 = time.time() - 600
    for i, c in enumerate((c1, c2)):
        p = str(d / f"chunk_{i}.parquet")
        c.to_parquet(p)
        os.utime(p, (t0 + 60 * i, t0 + 60 * i))

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    deduped = stream.dropDuplicates(["text"])
    sink = str(tmp_path / "out")
    counts = {}

    def on_batch(b, epoch):
        rows = b.select("text").collect()
        counts[epoch] = sorted(r["text"] for r in rows)
        b.write.mode("overwrite").parquet(os.path.join(sink, f"epoch_{epoch}"))

    q = (
        deduped.writeStream.foreachBatch(on_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert counts[0] == ["aaa", "bbb"]
    assert counts[1] == ["ccc"]  # 'aaa' suppressed by batch-0 state


def test_stream_late_data_drops_stragglers(spark):
    """The watermark replay must converge to the on-time-only aggregation:
    stragglers arriving two batches after the watermark was raised are
    dropped, so the final per-window totals exclude them (and differ from
    the full-corpus aggregation, proving the drop really happened)."""
    from tests.conftest import SF_DIR
    from tikv_data_compare_spark.queries import (
        q_events_window_agg,
        q_stream_late_data,
        _dc,
        _events_ms,
    )

    got = q_stream_late_data(spark, SF_DIR)
    total_streamed = got.agg(F.sum("n")).first()[0]

    e, ms = _events_ms(spark, SF_DIR)
    base = e.select("event_id", ms.alias("ms"))
    lo, hi = base.agg(F.min("ms"), F.max("ms")).first()
    b1 = lo + (hi - lo) // 3
    n_late = base.filter((F.col("ms") < b1) & (F.col("event_id") % 7 == 0)).count()
    n_all = base.count()
    assert n_late > 0
    assert total_streamed == n_all - n_late  # every straggler dropped, nothing else

    full = q_events_window_agg(spark, SF_DIR)
    assert got.count() < full.count() or total_streamed < n_all


def test_stream_stream_join_equals_batch(spark):
    """The streamed interval self-join must emit exactly the batch join's
    pair set on the fixture."""
    from tests.conftest import SF_DIR
    from tikv_data_compare_spark.queries import _events_ms, q_stream_stream_join

    got = {
        (r["click_id"], r["purchase_id"]): r["lag_ms"]
        for r in q_stream_stream_join(spark, SF_DIR).collect()
    }

    e, ms = _events_ms(spark, SF_DIR)
    base = e.select("user_id", "event_id", "event_type", ms.alias("ms"))
    a = base.filter(F.col("event_type") == "click").toPandas()
    b = base.filter(F.col("event_type") == "purchase").toPandas()
    want = {}
    for _, ra in a.iterrows():
        for _, rb in b.iterrows():
            if ra["user_id"] == rb["user_id"] and ra["ms"] <= rb["ms"] <= ra["ms"] + 3_600_000:
                want[(ra["event_id"], rb["event_id"])] = rb["ms"] - ra["ms"]
    assert got == want
    assert len(want) > 0


def test_stream_stream_join_spans_batches(spark, tmp_path):
    """Constructed timeline where matches straddle both chunk boundaries:
    the pairs can only be emitted if the buffered click survived in join
    state across micro-batches."""
    import datetime as dt

    from tikv_data_compare_spark.queries import q_stream_stream_join

    t0 = dt.datetime(2024, 1, 1)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # span 0..540 min → thirds at 180 and 360; pairs cross 0→1 and 1→2
    rows = [
        (1, 10, "click", at(0)),
        (1, 11, "purchase", at(30)),       # same-chunk match
        (2, 20, "click", at(170)),
        (2, 21, "purchase", at(200)),      # crosses chunk 0 → 1
        (3, 30, "click", at(350)),
        (3, 31, "purchase", at(380)),      # crosses chunk 1 → 2
        (4, 40, "click", at(420)),
        (4, 41, "purchase", at(510)),      # 90 min apart: outside window
        (5, 50, "view", at(540)),          # pins the max timestamp
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    sf_dir = str(tmp_path / "sf_synth")
    import os

    os.makedirs(sf_dir)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = {
        (r["click_id"], r["purchase_id"]): r["lag_ms"]
        for r in q_stream_stream_join(spark, sf_dir).collect()
    }
    assert got == {(10, 11): 1_800_000, (20, 21): 1_800_000, (30, 31): 1_800_000}


def test_manifest_stream_equals_batch_manifest(spark, tmp_path):
    """The monoid contract: a manifest maintained incrementally from a
    micro-batched stream (one file per trigger) is BIT-IDENTICAL to one
    built from the whole table in batch — chunking must not matter."""
    import tempfile

    from tikv_data_compare_spark.operators.checksum import (
        bucket_triples,
        compare_to_manifest,
    )
    from tikv_data_compare_spark.streaming.manifest_stream import manifest_stream

    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(400)], "k long, v string, amt long"
    )
    src = str(tmp_path / "mstream_src")
    # three files -> three micro-batches with maxFilesPerTrigger=1
    for lo, hi, part in ((0, 150, "a"), (150, 300, "b"), (300, 400, "c")):
        df.filter((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    mpath = str(tmp_path / "mstream_manifest")
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = manifest_stream(
        stream,
        keys=("k",),
        path=mpath,
        bucket_expr=lambda: F.floor(F.col("k") / 50),
        checkpoint_location=str(tmp_path / "mstream_ckpt"),
    )
    q.awaitTermination(120)

    streamed = {
        r["bucket"]: (r["cksum"], r["kvs"])
        for r in spark.read.parquet(mpath).collect()
    }
    batch = {
        r["bucket"]: (r["cksum"], r["kvs"])
        for r in bucket_triples(
            Keyed.of(df, keys=("k",)), F.floor(F.col("k") / 50)
        ).collect()
    }
    assert streamed == batch

    # the streamed manifest plugs straight into the batch drift compare
    drifted = df.withColumn(
        "amt", F.when(F.col("k") == 123, F.col("amt") + 1).otherwise(F.col("amt"))
    )
    report = compare_to_manifest(
        Keyed.of(drifted, keys=("k",)),
        spark.read.parquet(mpath),
        F.floor(F.col("k") / 50),
    ).collect()
    assert [(r["bucket"], r["status"]) for r in report] == [(2, "changed")]


def test_manifest_fold_skips_redelivered_epoch(spark, tmp_path):
    """foreachBatch redelivery: re-folding an already-applied epoch is a
    no-op (XOR is not idempotent — without the watermark the checksum
    contribution would cancel and kvs would double)."""
    from tikv_data_compare_spark.streaming.manifest_stream import (
        fold_batch_into_manifest,
    )

    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    keyed = Keyed.of(df, keys=("k",))
    mpath = str(tmp_path / "redeliver_manifest")
    bucket = F.floor(F.col("k") / 50)
    assert fold_batch_into_manifest(keyed, mpath, bucket, epoch_id=0) is True
    before = sorted(
        tuple(r) for r in spark.read.parquet(mpath).collect()
    )
    assert fold_batch_into_manifest(keyed, mpath, bucket, epoch_id=0) is False
    after = sorted(
        tuple(r) for r in spark.read.parquet(mpath).collect()
    )
    assert after == before
    # a NEW epoch does apply (kvs doubles for every bucket)
    assert fold_batch_into_manifest(keyed, mpath, bucket, epoch_id=1) is True
    kvs = {r["bucket"]: r["kvs"] for r in spark.read.parquet(mpath).collect()}
    assert all(v == 100 for v in kvs.values())


def test_manifest_stream_requires_checkpoint(spark, tmp_path):
    """A fresh checkpoint restarts epoch ids at 0 and corrupts the XOR fold
    on re-invocation (r8 ADVICE) — the API refuses to start without one."""
    import pytest

    from tikv_data_compare_spark.streaming.manifest_stream import manifest_stream

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    src = str(tmp_path / "nockpt_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    with pytest.raises(ValueError, match="checkpoint_location"):
        manifest_stream(
            stream, keys=("k",), path=str(tmp_path / "m"),
            bucket_expr=lambda: F.lit(0),
        )


def test_manifest_stream_restart_folds_only_new_files(spark, tmp_path):
    """The scenario the r8 ADVICE medium described: a SECOND start() over the
    same source after new files arrive.  With the (now required, reused)
    persistent checkpoint, only the new files are folded — the final
    manifest is bit-identical to a batch build over everything, instead of
    the silent loss/double-count a fresh checkpoint produced."""
    from tikv_data_compare_spark.operators.checksum import bucket_triples
    from tikv_data_compare_spark.streaming.manifest_stream import manifest_stream

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(300)], "k long, v string"
    )
    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    mpath = str(tmp_path / "restart_manifest")
    first = df.filter(F.col("k") < 200)
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = manifest_stream(
            stream, keys=("k",), path=mpath,
            bucket_expr=lambda: F.floor(F.col("k") / 50),
            checkpoint_location=ckpt,
        )
        q.awaitTermination(120)

    run_once()
    # new data lands between invocations (the documented nightly usage)
    df.filter(F.col("k") >= 200).coalesce(1).write.mode("append").parquet(src)
    run_once()

    streamed = {
        r["bucket"]: (r["cksum"], r["kvs"])
        for r in spark.read.parquet(mpath).collect()
    }
    batch = {
        r["bucket"]: (r["cksum"], r["kvs"])
        for r in bucket_triples(
            Keyed.of(df, keys=("k",)), F.floor(F.col("k") / 50)
        ).collect()
    }
    assert streamed == batch


def test_manifest_stream_range_buckets_equal_batch(spark, tmp_path):
    """r9: the streaming fold composes with the skew-proof quantile range
    buckets — chunked ≡ batch bit-identical under range bucketing, with
    the boundaries stored in (and validated from) the manifest meta."""
    import json as _json

    import pytest

    from tikv_data_compare_spark.operators.checksum import (
        bucket_triples,
        range_bucket_boundaries,
        range_bucket_col,
        range_bucketing,
    )
    from tikv_data_compare_spark.streaming.manifest_stream import (
        fold_batch_into_manifest,
        manifest_stream,
    )

    # zipf-ish skewed keys: k^3 concentrates mass at the low end
    df = spark.createDataFrame(
        [((i % 20) ** 3 + i, f"v{i}") for i in range(500)], "k long, v string"
    )
    src = str(tmp_path / "range_src")
    for lo, hi in ((0, 170), (170, 340), (340, 500)):
        df.filter(
            (F.monotonically_increasing_id() >= -1)  # no-op, keep lineage simple
            & (F.col("v").substr(2, 10).cast("long") >= lo)
            & (F.col("v").substr(2, 10).cast("long") < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    bounds = range_bucket_boundaries(df, "k", n_buckets=8)
    mpath = str(tmp_path / "range_manifest")
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = manifest_stream(
        stream, keys=("k",), path=mpath,
        checkpoint_location=str(tmp_path / "range_ckpt"),
        bucket_expr=lambda: range_bucket_col("k", bounds),
        meta=range_bucketing("k", bounds)[1],
    )
    q.awaitTermination(120)

    got = spark.read.parquet(mpath)
    # boundaries persisted as the same meta columns the batch CLI writes
    meta = got.select("range_key", "range_boundaries").first()
    assert meta["range_key"] == "k"
    assert _json.loads(meta["range_boundaries"]) == bounds

    streamed = {r["bucket"]: (r["cksum"], r["kvs"]) for r in got.collect()}
    batch = {
        r["bucket"]: (r["cksum"], r["kvs"])
        for r in bucket_triples(
            Keyed.of(df, keys=("k",)), range_bucket_col("k", bounds)
        ).collect()
    }
    assert streamed == batch

    # validated from meta: folding with DIFFERENT boundaries is refused
    keyed = Keyed.of(df.limit(10), keys=("k",))
    bucket, meta = range_bucketing("k", bounds[:-1])
    with pytest.raises(ValueError, match="range_boundaries"):
        fold_batch_into_manifest(keyed, mpath, bucket, epoch_id=99, meta=meta)
    # ... as is folding a hash bucketing into a range manifest
    with pytest.raises(ValueError, match="range-bucketed"):
        fold_batch_into_manifest(
            keyed, mpath, bucket=F.floor(F.col("k") / 50), epoch_id=99
        )


# ---------------------------------------------------------------------------
# Streaming incremental dedup (r9): chunked ingest ≡ one-shot batch pairs
# ---------------------------------------------------------------------------


def test_dedup_stream_chunked_equals_batch(spark, tmp_path):
    """The per-doc-pure-signature contract: the union of every epoch's
    (intra ∪ cross) candidate pairs equals the one-shot LSH self-join over
    the full corpus — chunking must not matter."""
    from tikv_data_compare_spark.operators import dedup as dd
    from tikv_data_compare_spark.streaming.dedup_stream import dedup_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(45)
        .cache()
    )
    # plant dups across chunk boundaries so cross pairs exist
    planted = docs.unionByName(
        docs.limit(2).withColumn("doc_id", F.col("doc_id") + 500000)
    ).cache()
    src = str(tmp_path / "ddstream_src")
    for lo, hi in ((0, 20), (20, 40), (40, 600000)):
        planted.filter(
            (F.col("doc_id") % 500000 >= lo) & (F.col("doc_id") % 500000 < hi)
        ).coalesce(1).write.mode("append").parquet(src)

    idx = str(tmp_path / "ddstream_idx")
    pairs_out = str(tmp_path / "ddstream_pairs")
    stream = (
        spark.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    labels_path = str(tmp_path / "ddstream_labels")
    q = dedup_stream(
        stream, idx, pairs_out,
        checkpoint_location=str(tmp_path / "ddstream_ckpt"),
        labels_path=labels_path,
    )
    q.awaitTermination(180)

    streamed = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(pairs_out).collect()
    }
    batch = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_pairs(planted, "doc_id", "text").collect()
    }
    assert streamed == batch and streamed  # non-empty by construction

    # incremental canonicalization (r10): the label table maintained one
    # epoch at a time must equal one-shot CC over the full pair log — the
    # dedup_canonical labeling, without ever re-reading accumulated pairs
    from tikv_data_compare_spark.operators.graph import connected_components

    folded = {
        (r["id"], r["component"])
        for r in spark.read.parquet(labels_path).collect()
    }
    oneshot = {
        (r["id"], r["component"])
        for r in connected_components(
            dd.minhash_pairs(planted, "doc_id", "text")
        ).collect()
    }
    assert folded == oneshot and folded
    # kept-set semantics: the min-id member of every component keeps
    comps = {}
    for i, c in folded:
        comps.setdefault(c, []).append(i)
    assert all(min(m) == c for c, m in comps.items())


def test_dedup_stream_requires_checkpoint(spark, tmp_path):
    from tikv_data_compare_spark.streaming.dedup_stream import dedup_stream

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)  # exists (empty) — the guard must fire before any start()
    )
    with pytest.raises(ValueError, match="checkpoint_location"):
        dedup_stream(stream, str(tmp_path / "i"), str(tmp_path / "p"))


def test_ingest_batch_redelivery_noop(spark, tmp_path):
    """A redelivered epoch is skipped wholesale: the watermark lives in the
    index meta and the pair sink/bands are untouched."""
    from tikv_data_compare_spark.operators import dedup_index as di
    from tikv_data_compare_spark.streaming.dedup_stream import (
        ingest_batch_into_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    assert ingest_batch_into_dedup_index(a, idx, pairs, epoch_id=0) is True
    n0 = di.load_dedup_index(spark, idx).meta["n_docs"]
    assert ingest_batch_into_dedup_index(a, idx, pairs, epoch_id=0) is False
    assert di.load_dedup_index(spark, idx).meta["n_docs"] == n0
    assert ingest_batch_into_dedup_index(b, idx, pairs, epoch_id=1) is True
    meta = di.load_dedup_index(spark, idx).meta
    assert meta["n_docs"] == docs.count() and meta["last_epoch"] == 1


def test_ingest_crash_window_redelivery_is_label_stable(spark, tmp_path):
    """r10 (r9 verdict #2): a crash AFTER the bands append but BEFORE the
    meta swap leaves the batch's bands in the index with the watermark
    unadvanced.  The redelivered epoch then queries an index that already
    contains the batch — the self-candidates must be filtered so the
    rewritten epoch directory carries the IDENTICAL (doc_a, doc_b, side)
    set, not intra pairs relabeled 'cross'."""
    from tikv_data_compare_spark.operators import dedup_index as di
    from tikv_data_compare_spark.streaming.dedup_stream import (
        ingest_batch_into_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    a = docs.filter(F.col("doc_id") % 2 == 0).cache()
    # batch b: one doc duplicating an a-doc (cross pair) + two ids sharing
    # one text (intra pair) — both label classes present
    base = a.orderBy("doc_id").limit(1)
    b = (
        base.withColumn("doc_id", F.lit(900001).cast("long"))
        .unionByName(base.withColumn("doc_id", F.lit(900002).cast("long")))
        .unionByName(base.withColumn("doc_id", F.lit(900003).cast("long")))
    ).cache()
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    assert ingest_batch_into_dedup_index(a, idx, pairs, epoch_id=0) is True

    # clean run on a twin index for the expected epoch-1 output
    idx2 = str(tmp_path / "idx2")
    pairs2 = str(tmp_path / "pairs2")
    assert ingest_batch_into_dedup_index(a, idx2, pairs2, epoch_id=0) is True
    assert ingest_batch_into_dedup_index(b, idx2, pairs2, epoch_id=1) is True
    want = {
        (r["doc_a"], r["doc_b"], r["side"])
        for r in spark.read.parquet(f"{pairs2}/epoch=1").collect()
    }
    assert any(s == "intra" for *_, s in want)
    assert any(s == "cross" for *_, s in want)

    # simulate the crash window on idx: bands appended, meta swap lost
    meta_before = di.load_dedup_index(spark, idx).meta
    di.append_to_dedup_index(b, idx)
    di._write_meta(spark, idx, meta_before)  # roll the meta back

    # redeliver epoch 1 — watermark says it never ran, index already has b
    assert ingest_batch_into_dedup_index(b, idx, pairs, epoch_id=1) is True
    got = {
        (r["doc_a"], r["doc_b"], r["side"])
        for r in spark.read.parquet(f"{pairs}/epoch=1").collect()
    }
    assert got == want  # identical pairs AND identical side labels
    meta = di.load_dedup_index(spark, idx).meta
    assert meta["last_epoch"] == 1
    # duplicate band rows are the sole residue; n_docs recounts distinct ids
    assert meta["n_docs"] == a.count() + 3
