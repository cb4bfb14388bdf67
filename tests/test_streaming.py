"""Structured Streaming slice: every streaming operator must agree with
its batch twin on the same data (trigger availableNow -> memory sink)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from app_insights_generator_spark.queries import QUERIES
from app_insights_generator_spark.sources import load_table
from app_insights_generator_spark.streaming import (
    clicks_before_errors_stream,
    dedup_within_watermark,
    enrich_stream_static,
    read_events_stream,
    run_to_memory,
    session_sums_stream,
    sliding_counts_stream,
    tumbling_counts_stream,
)
from app_insights_generator_spark.streaming.stateful import user_running_totals


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_to_memory(tumbling_counts_stream(events_stream), "t_tumbling")
    batch = QUERIES["tumbling_window_events"](spark, sf_dir)
    assert _multiset(got) == _multiset(batch)


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_to_memory(sliding_counts_stream(events_stream), "t_sliding")
    batch = QUERIES["sliding_window_events"](spark, sf_dir)
    assert _multiset(got) == _multiset(batch)


def test_session_stream_matches_batch(spark, sf_dir, events_stream):
    got = run_to_memory(session_sums_stream(events_stream), "t_session")
    batch = QUERIES["session_window_events"](spark, sf_dir)
    assert _multiset(got) == _multiset(batch)


def test_dedup_within_watermark(spark, sf_dir, events_stream):
    got = run_to_memory(
        dedup_within_watermark(events_stream, ["user_id", "event_type"]),
        "t_dedup",
        output_mode="append",
    )
    # one row per (user, type) pair present in the data
    batch_pairs = (
        load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    )
    assert got.select("user_id", "event_type").distinct().count() == batch_pairs.count()
    assert got.count() == batch_pairs.count()


def test_stream_static_join_matches_batch(spark, sf_dir, events_stream):
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = enrich_stream_static(events_stream, dim, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    got = run_to_memory(enriched, "t_enrich", output_mode="append")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id")
        .select("event_id", "user_id", "c_mktsegment")
    )
    assert _multiset(got) == _multiset(batch)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_stream):
    # Two independent source instances: stream-stream joins need separate
    # readStream lineages for each side.
    got = run_to_memory(
        clicks_before_errors_stream(events_stream, read_events_stream(spark, sf_dir)),
        "t_ssjoin",
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (clk.c_user_id == err.user_id)
        & (clk.c_ts >= err.ts - F.expr("INTERVAL 5 MINUTE"))
        & (clk.c_ts < err.ts)
    )
    batch = err.join(clk, cond, "inner").select("event_id", "user_id", "c_event_id")
    assert _multiset(got) == _multiset(batch)


def test_stateful_running_totals(spark, sf_dir, events_stream):
    got = run_to_memory(user_running_totals(events_stream), "t_state", output_mode="update")
    # final state per user = the row with the max n_events (updates only grow)
    final: dict = {}
    for r in got.collect():
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.total_value)
    batch = {
        r.user_id: (r.n_events, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert final == batch


def test_late_data_dropped_after_watermark(spark):
    """Late-data semantics, proven not assumed: a row arriving BELOW the
    restored watermark must not reopen a window that append mode already
    finalized. Two availableNow runs share one checkpoint (so run 2
    restores run 1's watermark); run 2's input holds one late event (far
    below the watermark) and one fresh event (advancing it)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    scratch = tempfile.mkdtemp(prefix="aig_late_")
    src = os.path.join(scratch, "src")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)

    base = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    minute = 60_000_000

    def write_file(name, rows):
        spark.createDataFrame(rows, "event_id long, off long").selectExpr(
            "event_id",
            f"timestamp_micros({base} + off * {minute}) AS ts",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    # Run 1: events spanning 00:00-60:00 -> watermark lands at 50:00,
    # finalizing every 10-minute window strictly below it.
    write_file("f1", [(i, i * 5) for i in range(13)])  # offsets 0..60 min

    def run_once():
        sdf = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.unix_timestamp("w.start").alias("w_start"),
                "n",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    run_once()
    first = {r.w_start: r.n for r in spark.read.parquet(out).collect()}
    w0 = 1_704_067_200  # the 00:00-00:10 window
    assert first.get(w0) == 2, first  # offsets 0 and 5 min

    # Run 2: one LATE event in the already-finalized first window (offset
    # 1 min, far below the restored 50:00 watermark) plus one fresh event
    # at 90 min that pushes the watermark forward and flushes later
    # windows.
    write_file("f2", [(100, 1), (101, 90)])
    run_once()
    final = {}
    for r in spark.read.parquet(out).collect():
        final[r.w_start] = final.get(r.w_start, 0) + r.n
    # The late event must NOT have re-emitted or incremented window 0.
    assert final[w0] == 2, final
    # The fresh event's earlier-window flush proves run 2 processed data:
    # the 60:00 window (offset-60 event from run 1) is now finalized.
    assert final.get(w0 + 3600) == 1, final


def test_streaming_anomaly_matches_batch(spark, sf_dir, events_stream):
    """The stateful streaming z-score detector must flag EXACTLY the same
    events as the batch anomaly_zscore_events window query, with
    bit-identical scores (both derive mean/var from exact cent sums with
    the same double algebra)."""
    from app_insights_generator_spark.streaming.anomaly import user_zscore_anomalies

    got = run_to_memory(
        user_zscore_anomalies(events_stream), "t_anomaly", output_mode="update"
    )
    batch = QUERIES["anomaly_zscore_events"](spark, sf_dir)
    g = {r.event_id: r.zscore for r in got.collect()}
    b = {r.event_id: r.zscore for r in batch.collect()}
    assert set(g) == set(b)
    for eid, z in b.items():
        # batch emits round(z + 1e-9, 4); undo nothing — compare rounded
        assert abs(round(g[eid] + 1e-9, 4) - z) < 5e-4, (eid, g[eid], z)


def test_stateful_state_recovers_across_restart(spark):
    """applyInPandasWithState state must SURVIVE a query restart: two
    availableNow runs share one checkpoint; run 2's events for a user
    seen in run 1 must CONTINUE that user's (count, sum) accumulator from
    the state store, not restart it at zero."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from app_insights_generator_spark.streaming.stateful import user_running_totals

    scratch = tempfile.mkdtemp(prefix="aig_restart_")
    src = os.path.join(scratch, "src")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(src)

    def write_file(name, rows):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))

    out = os.path.join(scratch, "out")

    def run_once(run_tag):
        sdf = (
            spark.readStream.schema("user_id long, value double")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_dir = os.path.join(out, run_tag)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(run_dir)

        # memory sink refuses checkpoint recovery; foreachBatch supports it
        q = (
            user_running_totals(sdf)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.read.parquet(run_dir).collect()
        }

    write_file("f1", [(1, 10.0), (1, 5.0), (2, 7.0)])
    first = run_once("run1")
    assert first[1] == (2, 15.0) and first[2] == (1, 7.0)

    # restart with new data: user 1 continues, user 3 starts fresh
    write_file("f2", [(1, 1.0), (3, 2.0)])
    second = run_once("run2")
    assert second[1] == (3, 16.0), second   # restored 2/15.0 + one event
    assert second[3] == (1, 2.0), second
    assert 2 not in second                   # untouched user not re-emitted


def test_dynamic_gap_sessionize_matches_native_session_window(spark, sf_dir):
    """The manual merged-interval formulation must agree with Spark's
    native session_window(ts, gapExpr) on session count and membership:
    same per-user session count, same (start, n_events) multiset."""
    from pyspark.sql import functions as F

    from app_insights_generator_spark.queries import QUERIES
    from app_insights_generator_spark.queries.events_queries import _events

    manual = QUERIES["sessionize_dynamic_gap_events"](spark, sf_dir)
    ev = _events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    native = (
        ev.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_epoch"),
            "n_events",
        )
    )
    m = {
        (r.user_id, r.session_start_epoch, r.n_events)
        for r in manual.collect()
    }
    n = {
        (r.user_id, r.session_start_epoch, r.n_events)
        for r in native.collect()
    }
    assert m == n


def test_stream_stream_left_outer_join_null_semantics(spark, sf_dir, events_stream):
    """LEFT OUTER watermarked join: matched rows equal the batch inner
    join; NULL-click rows are exactly errors with no qualifying click
    AND an expired join window (outer emission trails the watermark —
    errors near the end of the finite source may stay buffered, which
    is correct streaming semantics, so we assert containment + no false
    NULLs rather than full equality with the batch left join)."""
    from app_insights_generator_spark.streaming.windows import (
        clicks_before_errors_stream_outer,
    )

    got = run_to_memory(
        clicks_before_errors_stream_outer(
            events_stream, read_events_stream(spark, sf_dir)
        ),
        "t_ssjoin_outer",
        output_mode="append",
    )
    rows = got.collect()
    matched = {(r.event_id, r.user_id, r.c_event_id) for r in rows if r.c_event_id is not None}
    nulls = {r.event_id for r in rows if r.c_event_id is None}

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (clk.c_user_id == err.user_id)
        & (clk.c_ts >= err.ts - F.expr("INTERVAL 5 MINUTE"))
        & (clk.c_ts < err.ts)
    )
    batch_inner = {
        (r.event_id, r.user_id, r.c_event_id)
        for r in err.join(clk, cond, "inner")
        .select("event_id", "user_id", "c_event_id")
        .collect()
    }
    # 1) matched outer rows == batch inner join exactly
    assert matched == batch_inner
    # 2) no false NULLs: every NULL-emitted error truly has zero clicks
    matched_err_ids = {e for e, _, _ in batch_inner}
    assert not (nulls & matched_err_ids)
    # 3) the outer path emitted real unmatched errors (watermark advanced
    #    far enough over the sf0.001 data for at least some state to expire)
    assert len(nulls) > 0


def test_continuous_rollup_state_matches_batch_across_restart(spark, tmp_path):
    """Streaming continuous-aggregate maintenance: two availableNow runs
    (new files between them, shared checkpoint) must leave the merged
    state equal to a direct batch aggregation over ALL events — and a
    third run with no new data must not change the state version's
    contents (checkpoint replay skips applied batches)."""
    import pyspark.sql.functions as F

    from app_insights_generator_spark.streaming.rollup import (
        read_state,
        run_continuous_rollup,
    )

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows, columns=["k", "v"])),
            str(src / name),
        )

    def measures():
        return {
            "n": ("count", None),
            "s": ("sum", F.col("v")),
            "hi": ("max", F.col("v")),
        }

    def run_once():
        sdf = spark.readStream.schema("k string, v long").parquet(str(src))
        run_continuous_rollup(sdf, state_dir, ckpt, ["k"], measures())

    write_file("a.parquet", [("x", 1), ("x", 2), ("y", 10)])
    run_once()
    write_file("b.parquet", [("x", 4), ("z", 7)])
    run_once()

    got = {r.k: (r.n, r.s, r.hi) for r in read_state(spark, state_dir).collect()}
    assert got == {"x": (3, 7, 4), "y": (1, 10, 10), "z": (1, 7, 7)}

    run_once()  # no new files: no new state version may appear
    got2 = {r.k: (r.n, r.s, r.hi) for r in read_state(spark, state_dir).collect()}
    assert got2 == got


def test_rocksdb_state_store_matches_batch(spark, sf_dir, events_stream):
    """Same stateful queries under the RocksDB state store provider — the
    provider production clusters run when aggregation state outgrows the
    executor heap (HDFS-backed state is JVM-memory-resident; RocksDB
    spills to local disk with incremental changelog checkpointing). The
    provider must be invisible to results: tumbling counts AND an
    applyInPandasWithState operator must match their batch twins
    bit-for-bit, same as the default-provider tests above."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = run_to_memory(tumbling_counts_stream(events_stream), "t_rocks_tumbling")
        batch = QUERIES["tumbling_window_events"](spark, sf_dir)
        assert _multiset(got) == _multiset(batch)

        got2 = run_to_memory(
            user_running_totals(events_stream), "t_rocks_state", output_mode="update"
        )
        final: dict = {}
        for r in got2.collect():
            if r.user_id not in final or r.n_events > final[r.user_id][0]:
                final[r.user_id] = (r.n_events, r.total_value)
        batch2 = {
            r.user_id: (r.n_events, r.total_value)
            for r in load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        }
        assert final == batch2
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_stream_full_outer_join_both_sides(spark, sf_dir, events_stream):
    """FULL OUTER watermarked join: matched rows equal the batch inner
    join; NULL-padded rows must appear on BOTH sides (unmatched errors
    AND unmatched clicks) with no false NULLs. Same containment-style
    assertions as the left-outer test — outer emission trails the
    watermark on a finite source."""
    from app_insights_generator_spark.streaming.windows import (
        clicks_errors_stream_full_outer,
    )

    got = run_to_memory(
        clicks_errors_stream_full_outer(
            events_stream, read_events_stream(spark, sf_dir)
        ),
        "t_ssjoin_full",
        output_mode="append",
    )
    rows = got.collect()
    matched = {
        (r.event_id, r.c_event_id)
        for r in rows
        if r.event_id is not None and r.c_event_id is not None
    }
    null_err = {r.event_id for r in rows if r.c_event_id is None}
    null_clk = {r.c_event_id for r in rows if r.event_id is None}

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (clk.c_user_id == err.user_id)
        & (clk.c_ts >= err.ts - F.expr("INTERVAL 5 MINUTE"))
        & (clk.c_ts < err.ts)
    )
    batch_inner = {
        (r.event_id, r.c_event_id)
        for r in err.join(clk, cond, "inner").select("event_id", "c_event_id").collect()
    }
    assert matched == batch_inner
    matched_err = {e for e, _ in batch_inner}
    matched_clk = {c for _, c in batch_inner}
    # no false NULLs on either side
    assert not (null_err & matched_err)
    assert not (null_clk & matched_clk)
    # both outer paths actually emitted
    assert len(null_err) > 0 and len(null_clk) > 0


def test_continuous_rollup_retention_reclaims_old_versions(spark, tmp_path):
    """Round-12 retention: the rollup rewrites the full state per batch,
    so superseded state_v dirs must be reclaimed (keep committed + one
    predecessor for in-flight readers) instead of leaking forever."""
    import os

    import pyspark.sql.functions as F

    from app_insights_generator_spark.streaming.rollup import (
        read_state,
        run_continuous_rollup,
    )

    src = tmp_path / "src"
    src.mkdir()
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows, columns=["k", "v"])),
            str(src / name),
        )

    def run_once():
        sdf = spark.readStream.schema("k string, v long").parquet(str(src))
        run_continuous_rollup(
            sdf, state_dir, ckpt, ["k"], {"n": ("count", None),
                                          "s": ("sum", F.col("v"))}
        )

    for i, rows in enumerate(
        ([("x", 1)], [("x", 2)], [("y", 3)], [("x", 4)])
    ):
        write_file(f"f{i}.parquet", rows)
        run_once()

    versions = sorted(
        int(d[7:]) for d in os.listdir(state_dir) if d.startswith("state_v")
    )
    # 4 batches committed as v0..v3; only v2 (reader grace) + v3 remain.
    assert versions == [2, 3]
    got = {r.k: (r.n, r.s) for r in read_state(spark, state_dir).collect()}
    assert got == {"x": (3, 7), "y": (1, 3)}
