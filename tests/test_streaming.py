"""Structured Streaming tests (SURVEY §2 C6): the streamed plan must agree
with its batch twin — the Structured Streaming contract — plus
maxFilesPerTrigger batching and watermarked session windows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from simple_data_engineering_project_spark.sources import read_table
from simple_data_engineering_project_spark.streaming import (
    read_events_stream,
    session_aggregates,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_smoke, tmp_path_factory):
    # re-stage events as micros-timestamp parquet (the stream source
    # schema matches TESTDATA_SCHEMAS['events'])
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    read_table(spark, sf_smoke, "events").repartition(4).write.parquet(path)
    return path


def _run_available_now(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, sf_smoke, events_dir):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = _run_available_now(tumbling_counts(stream), "t_tumbling")
    try:
        got = {
            (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM t_tumbling").collect()
        }
        batch = read_table(spark, sf_smoke, "events")
        want = {
            (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
            for r in (
                batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
                .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_session_stream_matches_batch_query(spark, sf_smoke, events_dir):
    stream = read_events_stream(spark, events_dir)
    q = _run_available_now(session_aggregates(stream), "t_session")
    try:
        got = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql("SELECT * FROM t_session").collect()
        }
        from simple_data_engineering_project_spark.plans import catalog

        want = {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in catalog()["events_session_agg"].fn(spark, sf_smoke).collect()
        }
        assert got == want
    finally:
        q.stop()


def test_sliding_windows_overlap(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    q = _run_available_now(sliding_counts(stream, "1 hour", "30 minutes"), "t_sliding")
    try:
        rows = spark.sql("SELECT * FROM t_sliding").collect()
        assert rows
        # every event lands in exactly 2 overlapping 1h/30m windows ⇒
        # total sliding count = 2 × event count
        total = sum(r["n"] for r in rows)
        n_events = spark.read.parquet(events_dir).count()
        assert total == 2 * n_events
    finally:
        q.stop()


def test_stateful_running_totals_match_batch(spark, sf_smoke, events_dir):
    from simple_data_engineering_project_spark.streaming.stateful import (
        running_user_totals,
    )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        # state accumulates across triggers: the per-user row with the
        # highest n_events is the final running total
        got = {
            r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
            for r in spark.sql(
                """SELECT user_id, n_events, sum_value FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY n_events DESC) AS rn
                     FROM t_stateful) WHERE rn = 1"""
            ).collect()
        }
        batch = read_table(spark, sf_smoke, "events")
        want = {
            r["user_id"]: (r["n"], round(r["s"], 4))
            for r in batch.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, sf_smoke, tmp_path):
    from simple_data_engineering_project_spark.streaming import stream_dedup

    # stage the corpus with every event duplicated 3× across files, so
    # duplicates of a key arrive in different triggers
    src = str(tmp_path / "dup_events")
    ev = read_table(spark, sf_smoke, "events")
    ev.unionByName(ev).unionByName(ev).repartition(6).write.parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    q = (
        stream_dedup(stream, watermark="365 days")
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        out = spark.sql("SELECT event_id FROM t_dedup").collect()
        ids = [r["event_id"] for r in out]
        assert len(ids) == len(set(ids))  # no duplicate survived
        assert set(ids) == set(r["event_id"] for r in ev.select("event_id").collect())
    finally:
        q.stop()


def test_stream_upsert_warehouse(spark, sf_smoke, events_dir, tmp_path):
    from simple_data_engineering_project_spark.streaming import (
        stream_upsert_warehouse,
    )

    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    q = stream_upsert_warehouse(spark, events_dir, wh, ckpt, keys=["event_id"])
    q.awaitTermination(180)
    q.stop()
    loaded = spark.read.parquet(wh)
    batch = read_table(spark, sf_smoke, "events")
    assert loaded.count() == batch.count()  # event_id unique → full load
    assert sorted(loaded.drop("load_month").columns) == sorted(batch.columns)
    # replay with a fresh checkpoint: idempotent (same keyed result)
    q2 = stream_upsert_warehouse(
        spark, events_dir, wh, str(tmp_path / "ckpt2"), keys=["event_id"]
    )
    q2.awaitTermination(180)
    q2.stop()
    assert spark.read.parquet(wh).count() == batch.count()


def _append_events(spark, src, first, last, day):
    """Append one parquet file of events ``first``..``last - 1`` at noon
    of ``day`` to the stream source ``src``."""
    (
        spark.range(first, last)
        .selectExpr(
            "id AS event_id",
            f"TIMESTAMP'{day} 12:00:00' AS ts",
            "id % 7 AS user_id",
            "'view' AS event_type",
            "CAST(id AS DOUBLE) AS value",
            "CAST(NULL AS STRING) AS props",
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(src)
    )


def _upsert_once(spark, src, wh, ckpt):
    from simple_data_engineering_project_spark.streaming import (
        stream_upsert_warehouse,
    )

    q = stream_upsert_warehouse(spark, src, wh, ckpt, keys=["event_id"])
    try:
        q.awaitTermination(180)
    finally:
        q.stop()


def _file_digests(root):
    """{path below root: (size, sha256)} of every file under root."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            with open(full, "rb") as f:
                digest = hashlib.sha256(f.read()).hexdigest()
            out[os.path.relpath(full, root)] = (os.path.getsize(full), digest)
    return out


def _stored_events(spark, wh):
    return sorted(
        (r["event_id"], r["value"])
        for r in spark.read.parquet(wh).select("event_id", "value").collect()
    )


def test_stream_micro_batch_rewrites_only_its_months(spark, tmp_path):
    # a micro-batch goes through the batch pipeline's merge: it rewrites
    # the months it touches and leaves every file of the others alone
    src, wh, ckpt = (str(tmp_path / d) for d in ("src", "wh", "ckpt"))
    _append_events(spark, src, 0, 100, "2024-01-15")
    _append_events(spark, src, 100, 200, "2024-02-15")
    _upsert_once(spark, src, wh, ckpt)
    january = _file_digests(f"{wh}/load_month=2024-01")
    february = _file_digests(f"{wh}/load_month=2024-02")
    assert january and february

    _append_events(spark, src, 200, 250, "2024-02-20")
    _upsert_once(spark, src, wh, ckpt)
    assert _file_digests(f"{wh}/load_month=2024-01") == january
    assert _file_digests(f"{wh}/load_month=2024-02") != february
    assert _stored_events(spark, wh) == [(i, float(i)) for i in range(250)]
    assert [n for n in os.listdir(tmp_path) if n.startswith(".wh_")] == [".wh_stage"]


def test_stream_stops_on_a_leftover_retired_directory(spark, tmp_path):
    # a .{name}_retired directory left by an unfinished commit may hold
    # the only copy of a month: the micro-batch raises before writing
    # anything, and the directory stays as it was
    from pyspark.errors import StreamingQueryException

    src, wh, ckpt = (str(tmp_path / d) for d in ("src", "wh", "ckpt"))
    _append_events(spark, src, 0, 100, "2024-01-15")
    _upsert_once(spark, src, wh, ckpt)
    retired = str(tmp_path / ".wh_retired")
    spark.range(5).write.parquet(f"{retired}/load_month=2024-01")
    _append_events(spark, src, 100, 150, "2024-01-20")

    def written():  # the table, its stage and the retired directory
        return {
            d: _file_digests(str(tmp_path / d))
            for d in os.listdir(tmp_path)
            if d not in ("src", "ckpt")
        }

    before = written()
    with pytest.raises(StreamingQueryException, match="wh_retired"):
        _upsert_once(spark, src, wh, ckpt)
    assert written() == before


@pytest.mark.parametrize("layout", ["partitioned", "flat"])
def test_stream_stops_on_a_stored_column_the_batch_lacks(spark, tmp_path, layout):
    # schema drift: the stored table holds a column the micro-batch does
    # not; merging would drop it from every rewritten month, so the
    # micro-batch fails before writing anything
    from pyspark.errors import StreamingQueryException

    src, wh, ckpt = (str(tmp_path / d) for d in ("src", "wh", "ckpt"))
    old = str(tmp_path / "old")
    _append_events(spark, old, 0, 100, "2024-01-15")
    stored = spark.read.parquet(old).withColumn("extra", F.lit(1))
    if layout == "partitioned":
        stored = stored.withColumn("load_month", F.lit("2024-01"))
        stored.write.partitionBy("load_month").parquet(wh)
    else:
        stored.write.parquet(wh)
    before = _file_digests(wh)
    _append_events(spark, src, 50, 150, "2024-01-20")
    with pytest.raises(StreamingQueryException, match="extra"):
        _upsert_once(spark, src, wh, ckpt)
    assert _file_digests(wh) == before
    assert sorted(os.listdir(tmp_path)) == ["ckpt", "old", "src", "wh"]


def test_stream_upgrades_a_flat_events_table(spark, tmp_path):
    # a flat events table, as the stream wrote it before it partitioned
    # by month, is rewritten whole into the partitioned layout by the
    # next micro-batch, keeping its rows
    src, wh, ckpt = (str(tmp_path / d) for d in ("src", "wh", "ckpt"))
    _append_events(spark, str(tmp_path / "old"), 0, 100, "2024-01-15")
    _append_events(spark, str(tmp_path / "old"), 100, 200, "2024-02-15")
    spark.read.parquet(str(tmp_path / "old")).write.parquet(wh)
    _append_events(spark, src, 150, 250, "2024-03-15")
    _upsert_once(spark, src, wh, ckpt)
    assert sorted(n for n in os.listdir(wh) if not n.startswith((".", "_"))) == [
        "load_month=2024-01", "load_month=2024-02", "load_month=2024-03",
    ]
    stored = spark.read.parquet(wh)
    assert _stored_events(spark, wh) == [(i, float(i)) for i in range(250)]
    months = dict(
        stored.filter("event_id IN (0, 120, 180)")
        .select("event_id", "load_month")
        .collect()
    )
    assert months == {0: "2024-01", 120: "2024-02", 180: "2024-03"}


def test_stream_stream_conversion_join_matches_batch(spark, sf_smoke, events_dir):
    from simple_data_engineering_project_spark.plans import catalog
    from simple_data_engineering_project_spark.streaming import conversion_join

    # one micro-batch (files >> maxFilesPerTrigger): watermark starts at
    # -inf so no join state is evicted mid-run — exact batch parity. With
    # many batches over event-time-unordered files, pairs whose left side
    # trails the watermark by > horizon are (correctly) dropped; that
    # trade is documented on conversion_join.
    left = read_events_stream(spark, events_dir, max_files_per_trigger=1000)
    right = read_events_stream(spark, events_dir, max_files_per_trigger=1000)
    joined = conversion_join(left, right)
    q = (
        joined.writeStream.format("memory")
        .queryName("t_conversion")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        got = {
            (r["l_event"], r["r_event"])
            for r in spark.sql("SELECT * FROM t_conversion").collect()
        }
        want = {
            (r["l_event"], r["r_event"])
            for r in catalog()["events_conversion_join"].fn(spark, sf_smoke).collect()
        }
        assert got == want and got
    finally:
        q.stop()


def test_stream_static_enrichment_matches_batch(spark, sf_smoke, events_dir):
    from simple_data_engineering_project_spark.streaming import (
        enrich_stream_static,
        read_events_stream,
    )

    # deterministic user dim: tier by user_id residue
    users = (
        read_table(spark, sf_smoke, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze"),
        )
    )

    def per_tier(events):
        return enrich_stream_static(events, users).groupBy("tier").agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = _run_available_now(per_tier(stream), "t_enrich")
    try:
        got = {
            r["tier"]: (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM t_enrich").collect()
        }
        want = {
            r["tier"]: (r["n"], r["sum_value"])
            for r in per_tier(read_table(spark, sf_smoke, "events")).collect()
        }
        assert got == want and set(got) == {"gold", "silver", "bronze"}
    finally:
        q.stop()


def test_stream_stream_outer_join_emits_unmatched(spark, sf_smoke, events_dir):
    from simple_data_engineering_project_spark.streaming import conversion_join

    # left-outer stream-stream join: views with no purchase inside the
    # horizon must surface (null purchase columns) once the watermark
    # proves no match can still arrive; the availableNow final no-data
    # batch flushes everything older than max(ts) - delay. Compare
    # against the batch twin restricted to lefts whose whole join
    # window + watermark delay is provably past — rows younger than
    # that may legitimately still sit in state at stream end.
    left = read_events_stream(spark, events_dir, max_files_per_trigger=1000)
    right = read_events_stream(spark, events_dir, max_files_per_trigger=1000)
    joined = conversion_join(left, right, how="left_outer")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_conversion_outer")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        batch = read_table(spark, sf_smoke, "events")
        max_ts = batch.agg(F.max("ts")).first()[0]
        cutoff = F.lit(max_ts) - F.expr("INTERVAL 95 minutes")  # 30m + 1h + slack
        got = {
            (r["l_event"], r["r_event"])
            for r in spark.sql(
                "SELECT * FROM t_conversion_outer"
            ).filter(F.col("l_ts") <= cutoff).collect()
        }
        want = {
            (r["l_event"], r["r_event"])
            for r in conversion_join(batch, batch, how="left_outer")
            .filter(F.col("l_ts") <= cutoff)
            .collect()
        }
        assert got == want and got
        # the outer join must actually emit misses, not just matches
        assert any(r_event is None for _, r_event in got)
    finally:
        q.stop()


def test_tws_running_totals_match_batch(spark, sf_smoke, events_dir):
    """transformWithStateInPandas leg of the running-totals operator.
    Gated on google.protobuf (the TWS state protocol's driver-worker
    dependency, absent from this image — see _have_tws_runtime for the
    enablement recipe); the plan still CONSTRUCTS unconditionally, so
    a pyspark upgrade that breaks the API surface fails loudly here."""
    from simple_data_engineering_project_spark.streaming import (
        read_events_stream,
    )
    from simple_data_engineering_project_spark.streaming.stateful import (
        _have_tws_runtime,
        running_user_totals_tws,
    )

    stream = read_events_stream(spark, events_dir)
    out = running_user_totals_tws(stream)  # plan construction: ungated
    assert set(out.schema.fieldNames()) == {
        "user_id", "n_events", "sum_value"
    }
    if not _have_tws_runtime():
        pytest.skip("google.protobuf not installed (TWS state protocol)")

    q = (
        out.writeStream.format("memory")
        .queryName("t_tws")
        .outputMode("update")
        .option(
            "checkpointLocation",
            f"{events_dir}/../tws_ckpt",
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["user_id"], r["n_events"], round(r["sum_value"], 6))
        for r in spark.sql(
            """SELECT user_id, n_events, sum_value FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM t_tws) WHERE rn = 1"""
        ).collect()
    }
    from simple_data_engineering_project_spark.sources import read_table

    want = {
        (r["user_id"], r["n"], round(r["s"], 6))
        for r in read_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_tws_handler_logic_with_fake_handle():
    """Drives the StatefulProcessor's handleInputRows directly with a
    fake handle/ValueState (the live TWS path is protobuf-gated in
    this image), pinning state accumulation across calls, null
    handling, and the output row shape against outputStructType."""
    import pandas as pd

    from simple_data_engineering_project_spark.streaming.stateful import (
        make_user_totals_processor,
    )

    class _FakeState:
        def __init__(self):
            self.v = None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    class _FakeHandle:
        def __init__(self):
            self.state = _FakeState()

        def getValueState(self, name, schema):
            assert name == "agg"
            assert [f.name for f in schema.fields] == ["n", "s"]
            return self.state

    proc = make_user_totals_processor()
    h = _FakeHandle()
    proc.init(h)
    out1 = list(
        proc.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [1.5, None, 2.0]})]), None
        )
    )
    assert len(out1) == 1
    assert list(out1[0].columns) == ["user_id", "n_events", "sum_value"]
    assert out1[0].iloc[0].tolist() == [7, 3, 3.5]
    assert h.state.v == (3, 3.5)
    # state survives to the next micro-batch and accumulates
    out2 = list(
        proc.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [4.0]})]), None
        )
    )
    assert out2[0].iloc[0].tolist() == [7, 4, 7.5]
    proc.close()
