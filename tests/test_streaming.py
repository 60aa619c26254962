"""Structured Streaming twins vs batch operators / DuckDB oracles.

Strategy: run each finite stream with Trigger.AvailableNow into a memory
sink and require the result to match the batch twin (and hence the same
DuckDB oracle the batch operator is gated on).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from project_cortex_spark import oracle
from project_cortex_spark.operators import events as ev
from project_cortex_spark.streaming import incremental, source, stateful, windows

from .conftest import SF_DIR, assert_matches_oracle


def _events_stream(spark):
    return source.stream_table(spark, SF_DIR, "events")


def test_stream_windowed_agg_matches_oracle(spark, duck):
    out = source.run_to_memory(
        windows.windowed_agg_stream(_events_stream(spark), minutes=60),
        query_name="t_win_agg",
        output_mode="complete",
    )
    assert_matches_oracle(out, duck, oracle.windowed_agg_sql(minutes=60))


def test_stream_sessionize_matches_batch(spark, registry):
    out = source.run_to_memory(
        windows.sessionize_stream(_events_stream(spark), gap_minutes=30),
        query_name="t_sessions",
        output_mode="complete",
    )
    batch = ev.sessionize(registry.table("events"), gap_minutes=30).drop("session_seq")
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, batch.select(*out.columns).collect()))
    assert got == want


def _write_events(spark, rows, path):
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "value"]
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_sessionize_with_state(spark, tmp_path):
    """applyInPandasWithState sessions close via event-time timeout and
    match the batch sessionizer on the real (non-sentinel) events."""
    real = [
        (1, "2024-01-01 00:00:00", 10, 1.0),
        (2, "2024-01-01 00:10:00", 10, 2.0),  # same session
        (3, "2024-01-01 01:00:00", 10, 3.0),  # 50 min gap: new session
        (4, "2024-01-01 00:05:00", 20, 4.0),
    ]
    src = tmp_path / "src"
    # sentinels advance the watermark in later micro-batches so every
    # real session times out deterministically before the query drains
    _write_events(spark, real, str(src / "f0.parquet"))
    _write_events(spark, [(90, "2024-01-06 00:00:00", -1, 0.0)], str(src / "f1.parquet"))
    _write_events(spark, [(91, "2024-01-11 00:00:00", -2, 0.0)], str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    q = (
        stateful.sessionize_with_state(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("t_stateful_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        (r["user_id"], r["session_start"].isoformat(), r["session_end"].isoformat()):
            (r["n_events"], r["sum_value_e4"])
        for r in spark.table("t_stateful_sessions").collect()
        if r["user_id"] >= 0  # sentinel users only advance the watermark
    }
    batch_df = spark.createDataFrame(
        real, ["event_id", "ts", "user_id", "value"]
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    want = {
        (r["user_id"], r["session_start"].isoformat(), r["session_end"].isoformat()):
            (r["n_events"], r["sum_value_e4"])
        for r in ev.sessionize(batch_df, gap_minutes=30).collect()
    }
    assert got == want


def test_watch_and_index_incremental(spark, tmp_path):
    """W1: the checkpointed file source processes each file exactly once
    across restarts (the fsnotify+journal behavior)."""
    src = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    seen: list[tuple[int, int]] = []

    def index_batch(df, batch_id):
        n = df.count()
        if n:
            seen.append((batch_id, n))

    schema = "doc_id LONG, text STRING"
    spark.createDataFrame([(1, "a b"), (2, "c d")], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch1.parquet"))
    q = incremental.watch_and_index(
        spark, str(src) + "/*/", schema, index_batch, checkpoint_dir=ckpt
    )
    q.awaitTermination()
    assert sum(n for _, n in seen) == 2

    spark.createDataFrame([(3, "e f")], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch2.parquet"))
    q = incremental.watch_and_index(
        spark, str(src) + "/*/", schema, index_batch, checkpoint_dir=ckpt
    )
    q.awaitTermination()
    # only the new file's rows were processed on restart
    assert sum(n for _, n in seen) == 3


@pytest.mark.parametrize("minutes", [15])
def test_stream_batch_same_expressions(registry, minutes, spark, duck):
    """The streaming twin applied to a BATCH frame degrades to exactly
    the batch operator (shared column expressions, no drift)."""
    events = registry.table("events")
    got = windows.windowed_agg_stream(events, minutes=minutes)
    assert_matches_oracle(got, duck, oracle.windowed_agg_sql(minutes=minutes))


def test_stream_dedup_exactly_once(spark, registry):
    # at-least-once transport simulated by a self-union: every event
    # arrives twice; dedup must reproduce the original table exactly
    from project_cortex_spark.streaming import dedup as sdedup

    s = _events_stream(spark)
    out = source.run_to_memory(
        sdedup.dedup_stream(s.union(s)).select("event_id"),
        query_name="t_stream_dedup",
        output_mode="append",
    )
    got = sorted(r["event_id"] for r in out.collect())
    want = sorted(
        r["event_id"] for r in registry.table("events").select("event_id").collect()
    )
    assert got == want


def test_continuous_rollup_incremental_equals_batch(spark, registry, tmp_path):
    from project_cortex_spark.streaming import rollup

    events = registry.table("events")
    in_dir = str(tmp_path / "incoming")
    parts = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    for parity in (0, 1):
        events.filter(F.col("event_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        q = rollup.continuous_rollup(
            spark, in_dir, events.schema, partials_dir=parts,
            checkpoint_dir=ckpt, minutes=60,
        )
        q.awaitTermination()
    # drain again with NO new input: checkpoint must prevent recounting
    q = rollup.continuous_rollup(
        spark, in_dir, events.schema, partials_dir=parts,
        checkpoint_dir=ckpt, minutes=60,
    )
    q.awaitTermination()

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value_e4"])
        for r in rollup.read_rollup(spark, parts).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value_e4"])
        for r in rollup.rollup_partial(events, minutes=60).collect()
    }
    assert got == want


def test_interval_join_stream_equals_batch(spark, registry):
    """The watermark-bounded stream-stream interval join must emit the
    complete pair set a finite batch self-join produces (inner-join
    results do not wait for the watermark)."""
    from project_cortex_spark.streaming import joins as stream_joins
    from project_cortex_spark.streaming import source as stream_source
    from tests.conftest import SF_DIR

    a = stream_source.stream_table(spark, SF_DIR, "events")
    b = stream_source.stream_table(spark, SF_DIR, "events")
    streamed = stream_source.run_to_memory(
        stream_joins.interval_join_stream(a, b, minutes=60),
        query_name="t_interval_join",
        output_mode="append",
    )
    ev = registry.table("events")
    batch = stream_joins.interval_join_stream(ev, ev.alias("b"), minutes=60)
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_asof_join_stream_equals_batch(spark, registry):
    """The stateless broadcast-snapshot streaming as-of must reproduce
    the batch union+window as-of exactly, including NULL payloads for
    rows with no prior snapshot (LEFT semantics)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from project_cortex_spark.operators import asof as asof_mod
    from project_cortex_spark.streaming import joins as stream_joins
    from project_cortex_spark.streaming import source as stream_source
    from tests.conftest import SF_DIR

    events = registry.table("events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ckpt = (
        events.filter(F.col("event_id") % 10 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    stream = stream_source.stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    streamed = stream_source.run_to_memory(
        stream_joins.asof_join_stream(
            stream, ckpt, on="user_id", right_payload=["value"]
        ).select("event_id", F.round("right_value", 6).alias("ckpt_value")),
        query_name="t_stream_asof",
        output_mode="append",
    )
    batch = asof_mod.as_of_join(
        events.select("event_id", "user_id", "ts", "value"),
        ckpt,
        on="user_id",
        right_payload=["value"],
    ).select("event_id", F.round("right_value", 6).alias("ckpt_value"))
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0
    # LEFT semantics: some rows genuinely have no prior snapshot
    assert any(v is None for _, v in want)


def test_asof_join_stream_non_utc_driver_tz(spark, registry):
    """Regression for the timezone-mixing hazard: the snapshot side used
    to be collected as wall-clock datetimes (driver OS timezone) and
    compared against session-tz (UTC) Arrow timestamps — correct only on
    a UTC host. All comparison is now integer epoch micros; simulate a
    non-UTC host by shifting the driver Python timezone (which governs
    Row's timestamp conversion) and assert batch parity still holds."""
    import os
    import time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from project_cortex_spark.operators import asof as asof_mod
    from project_cortex_spark.streaming import joins as stream_joins
    from project_cortex_spark.streaming import source as stream_source
    from tests.conftest import SF_DIR

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        events = registry.table("events")
        w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
        ckpt = (
            events.filter(F.col("event_id") % 10 == 0)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "ts", "value")
        )
        stream = stream_source.stream_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        streamed = stream_source.run_to_memory(
            stream_joins.asof_join_stream(
                stream, ckpt, on="user_id", right_payload=["value"]
            ).select("event_id", F.round("right_value", 6).alias("ckpt_value")),
            query_name="t_stream_asof_tz",
            output_mode="append",
        )
        batch = asof_mod.as_of_join(
            events.select("event_id", "user_id", "ts", "value"),
            ckpt,
            on="user_id",
            right_payload=["value"],
        ).select("event_id", F.round("right_value", 6).alias("ckpt_value"))
        got = {tuple(r) for r in streamed.collect()}
        want = {tuple(r) for r in batch.collect()}
        assert got == want and len(got) > 0
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_asof_join_stream_rejects_oversized_snapshot(spark, registry):
    """The 'driver-sized static side' contract is enforced, not just
    documented: a snapshot side above max_snapshot_rows fails fast with
    the foreachBatch alternative in the message instead of risking a
    silent driver OOM."""
    import pytest

    from project_cortex_spark.streaming import joins as stream_joins
    from project_cortex_spark.streaming import source as stream_source
    from tests.conftest import SF_DIR

    events = registry.table("events")
    ckpt = events.select("user_id", "ts", "value")  # thousands of rows
    stream = stream_source.stream_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    with pytest.raises(ValueError, match="foreachBatch"):
        stream_joins.asof_join_stream(
            stream, ckpt, on="user_id", right_payload=["value"],
            max_snapshot_rows=100,
        )


def test_branch_watcher_swap_and_debounce(spark, tmp_path):
    """W2 (branch_watcher.go:29,66-98): HEAD change swaps the registry to
    the new branch namespace after the debounce window; rapid checkout
    chatter collapses; old registries stay readable (immutable files)."""
    from project_cortex_spark.streaming.branch_watcher import BranchWatcher

    root = tmp_path / "branches"
    for branch, n in (("main", 3), ("dev", 5)):
        spark.range(n).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text") \
            .coalesce(1).write.parquet(str(root / branch / "documents.parquet"))
    head = tmp_path / "HEAD"
    head.write_text("ref: refs/heads/main\n")

    t = [0.0]
    w = BranchWatcher(
        spark, str(root), str(head),
        tables=("documents",), debounce_ms=100, clock=lambda: t[0],
    )
    assert w.branch == "main" and w.registry.table("documents").count() == 3
    old_registry = w.registry

    # checkout dev: first poll arms the debounce, no swap yet
    head.write_text("ref: refs/heads/dev\n")
    assert w.poll() is False and w.branch == "main"
    # within the window: still no swap
    t[0] = 0.05
    assert w.poll() is False and w.branch == "main"
    # window elapsed: swap
    t[0] = 0.2
    assert w.poll() is True
    assert w.branch == "dev" and w.registry.table("documents").count() == 5

    # rapid flip to main and back to dev inside one window: no swap at all
    head.write_text("ref: refs/heads/main\n")
    t[0] = 0.3
    assert w.poll() is False
    head.write_text("ref: refs/heads/dev\n")
    t[0] = 0.35
    assert w.poll() is False and w.branch == "dev"
    t[0] = 1.0
    assert w.poll() is False  # back on the current branch, pending cleared

    # snapshot isolation: the pre-swap registry still reads main's data
    assert old_registry.table("documents").count() == 3

    # detached HEAD parses as the literal SHA
    head.write_text("0123abcd\n")
    t[0] = 2.0
    w.poll()
    t[0] = 3.0
    from project_cortex_spark.streaming.branch_watcher import read_head
    assert read_head(str(head)) == "0123abcd"


def test_stream_anomaly_matches_batch(spark, registry):
    """Complete-mode volume buckets + merge-on-read z-score equals the
    batch rolling_anomaly on the same events."""
    stream = _events_stream(spark)
    buckets = source.run_to_memory(
        windows.volume_buckets_stream(stream, bucket_minutes=60),
        query_name="t_stream_anomaly_buckets",
        output_mode="complete",
    )
    got = {
        (r["event_type"], r["bucket_start_us"]): (r["n_events"], r["z_score"])
        for r in windows.anomaly_on_buckets(buckets, bucket_minutes=60).collect()
    }
    want = {
        (r["event_type"], r["bucket_start_us"]): (r["n_events"], r["z_score"])
        for r in ev.rolling_anomaly(registry.table("events")).collect()
    }
    assert got == want and len(want) > 0


def test_anomaly_with_state(spark, tmp_path):
    """Append-mode stateful anomaly: buckets close by watermark timeout
    and each is judged against the trailing baseline exactly as the
    batch twin does (alternating 2/3 baseline, one 50-event spike)."""
    hour = 3_600
    real = []
    eid = 0
    for b in range(10):
        n = 50 if b == 7 else (2 if b % 2 == 0 else 3)
        for _ in range(n):
            ts = f"2024-01-01 {b:02d}:00:00"
            real.append((eid, ts, 10, 1.0))
            eid += 1
    src = tmp_path / "src"
    _write_events(spark, real, str(src / "f0.parquet"))
    # sentinels: later event-time advances the watermark past every real
    # bucket so state timeouts fire deterministically before the drain
    _write_events(spark, [(9000, "2024-01-06 00:00:00", -1, 0.0)], str(src / "f1.parquet"))
    _write_events(spark, [(9001, "2024-01-11 00:00:00", -2, 0.0)], str(src / "f2.parquet"))
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .withColumn("event_type", F.when(F.col("user_id") < 0, "wm").otherwise("view"))
    )
    q = (
        stateful.anomaly_with_state(stream, bucket_minutes=60, z_threshold=3.0)
        .writeStream.format("memory")
        .queryName("t_stateful_anomaly")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = [
        (r["event_type"], r["bucket_start_us"], r["n_events"], r["mean_prev"])
        for r in spark.table("t_stateful_anomaly").collect()
        if r["event_type"] == "view"
    ]
    # bucket start of 2024-01-01 07:00:00 UTC in epoch micros
    spike_us = (1_704_067_200 + 7 * hour) * 1_000_000
    assert got == [("view", spike_us, 50, 2.4286)]


def test_incremental_neardup_finds_cross_batch_pairs(spark, tmp_path):
    """A near-dup pair SPLIT across two deliveries is still found: the
    signature store accumulates, so the read-side band join sees both
    sides without re-shingling the first delivery."""
    from project_cortex_spark.operators import dedup as dd
    from project_cortex_spark.streaming import neardup

    batch1 = [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")]
    batch2 = [
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
        (3, "totally unrelated content about distributed query engines here now"),
    ]
    schema = "doc_id LONG, text STRING"
    in_dir = tmp_path / "in"
    sigs = str(tmp_path / "sigs")
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(str(in_dir))
        q = neardup.continuous_signatures(
            spark,
            str(in_dir),
            schema,
            sigs_dir=sigs,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    all_docs = spark.createDataFrame(
        batch1 + batch2, ["doc_id", "text"]
    )
    got = {
        (r["a"], r["b"])
        for r in neardup.read_near_duplicates(
            spark, sigs, all_docs, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2)}
    # and it matches the one-shot batch operator
    want = {
        (r["a"], r["b"])
        for r in dd.minhash_near_duplicates(all_docs, threshold=0.5).collect()
    }
    assert got == want


def test_incremental_fts_index_equals_batch(spark, tmp_path):
    """BM25 over the incrementally built store uses the MERGED corpus
    stats: a term split across deliveries gets the same df/avg_dl —
    and hence identical scores — as the one-shot batch index."""
    from project_cortex_spark.operators import fts as fts_mod
    from project_cortex_spark.streaming import fts_index

    batch1 = [(1, "spark shuffles data across executors"),
              (2, "pandas stays on one machine")]
    batch2 = [(3, "spark plans queries with catalyst"),
              (4, "duckdb vectorizes on one machine")]
    schema = "doc_id LONG, text STRING"
    in_dir = tmp_path / "in"
    idx = str(tmp_path / "idx")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(str(in_dir))
        q = fts_index.continuous_fts_index(
            spark, str(in_dir), schema,
            index_dir=idx, checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    all_docs = spark.createDataFrame(batch1 + batch2, ["doc_id", "text"])
    inc = fts_index.read_fts_index(spark, idx, all_docs)
    bat = fts_mod.build_fts_index(all_docs, id_col="doc_id", text_col="text")
    for query in ("spark", "machine OR spark", '"one machine"'):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in fts_mod.fts_search(inc, query, limit=10).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in fts_mod.fts_search(bat, query, limit=10).collect()
        ]
        assert got == want and len(want) > 0


def test_incremental_vec_index_probes_like_batch(spark, registry, tmp_path):
    """An incrementally built assignment store probes identically to a
    one-shot assignment (frozen centroids make assignment per-row
    deterministic), including at PARTIAL nprobe."""
    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings")
    cent = knn_mod.train_centroids(emb, n_centroids=8)
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    for parity in (0, 1):
        emb.filter(F.col("vec_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        q = vec_index.continuous_vec_index(
            spark, in_dir, emb.schema,
            index_dir=idx, checkpoint_dir=str(tmp_path / "ckpt"),
            centroids=cent,
        )
        q.awaitTermination()
    store = vec_index.read_vec_index(spark, idx)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    inc = {
        key(r): (r["vec_id"], round(r["score"], 9))
        for r in knn_mod.knn_join_ivf(
            queries, emb, k=5, n_centroids=8, nprobe=3,
            centroids=cent, assigned=store,
        ).collect()
    }
    bat = {
        key(r): (r["vec_id"], round(r["score"], 9))
        for r in knn_mod.knn_join_ivf(
            queries, emb, k=5, n_centroids=8, nprobe=3, centroids=cent,
        ).collect()
    }
    assert inc == bat and len(bat) > 0


def test_persisted_ivf_index_lifecycle(spark, registry, tmp_path):
    """The persisted-index contract (VERDICT r6 item 6): centroids
    round-trip through the index directory bit-exactly; a stream job
    given centroids=None assigns against the PERSISTED matrix; and
    retrain_and_swap (retrain on the accumulated store, re-assign,
    two-rename swap) compacts per-batch files while reproducing the
    same centroids from the same vector set."""
    import numpy as np

    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings")
    cent = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8, iters=4
    )
    idx = str(tmp_path / "idx")
    vec_index.write_centroids(spark, cent, idx)
    assert np.array_equal(vec_index.read_centroids(spark, idx), cent)
    in_dir = str(tmp_path / "in")
    for parity in (0, 1):
        emb.filter(F.col("vec_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        q = vec_index.continuous_vec_index(
            spark, in_dir, emb.schema,
            index_dir=idx, checkpoint_dir=str(tmp_path / "ckpt"),
        )  # centroids=None -> loaded from the index
        q.awaitTermination()
    store = vec_index.read_vec_index(spark, idx)
    n_vecs = emb.count()
    assert store.count() == n_vecs
    before = {
        (r.vec_id, r.cluster_id) for r in store.select("vec_id", "cluster_id").collect()
    }
    stats = vec_index.retrain_and_swap(
        spark, idx, n_centroids=8, iters=4, target_files=1
    )
    assert stats["files_after"] < stats["files_before"]
    # same vector set + ordered replayable trainer => same centroids,
    # hence identical assignments after the rebuild
    assert np.array_equal(vec_index.read_centroids(spark, idx), cent)
    after = {
        (r.vec_id, r.cluster_id)
        for r in vec_index.read_vec_index(spark, idx)
        .select("vec_id", "cluster_id")
        .collect()
    }
    assert after == before and len(after) == n_vecs


def test_persisted_ivf_rebuild_heals_crashed_swap(spark, registry, tmp_path):
    """A crash inside retrain_and_swap's two-rename window leaves only
    <idx>__bak; the next rebuild must heal it (recover_store) and
    proceed — the same crash contract as layout.compact_store."""
    import os

    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings").limit(64)
    cent = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=4, iters=2
    )
    idx = str(tmp_path / "idx")
    vec_index.write_centroids(spark, cent, idx)
    knn_mod.assign_clusters(emb, cent).write.parquet(
        os.path.join(idx, "assigned", "batch=0")
    )
    n = vec_index.read_vec_index(spark, idx).count()
    # simulate the crash: live dir renamed away, __bak holds the data
    os.rename(idx, idx + "__bak")
    stats = vec_index.retrain_and_swap(spark, idx, n_centroids=4, iters=2)
    assert stats["files_after"] >= 1
    assert vec_index.read_vec_index(spark, idx).count() == n
    assert not os.path.exists(idx + "__bak")


def test_stream_ohlc_matches_batch(spark, registry):
    """min_by/max_by streaming aggregate equals the batch row_number
    form (rn=1 under (ts, event_id) ASC == arg-min of that key)."""
    out = source.run_to_memory(
        windows.ohlc_stream(_events_stream(spark), bucket_minutes=60),
        query_name="t_stream_ohlc",
        output_mode="complete",
    )
    got = sorted(map(tuple, out.collect()))
    batch = ev.ohlc_resample(registry.table("events"), bucket_minutes=60)
    want = sorted(map(tuple, batch.select(*out.columns).collect()))
    assert got == want and len(want) > 0


def test_stream_histogram_matches_batch(spark, registry):
    """count/min/max/avg are all algebraic: the streaming histogram is a
    pure aggregate and must equal the batch operator exactly."""
    out = source.run_to_memory(
        windows.value_histogram_stream(_events_stream(spark), width=25.0),
        query_name="t_stream_histogram",
        output_mode="complete",
    )
    got = sorted(map(tuple, out.collect()))
    batch = ev.value_histogram(registry.table("events"), width=25.0)
    want = sorted(map(tuple, batch.select(*out.columns).collect()))
    assert got == want and len(want) > 0


def test_incremental_paragraph_dedup_cross_delivery(spark, tmp_path):
    """Boilerplate whose duplicate arrives in a LATER delivery is still
    dropped (the seen store carries first occurrences across batches),
    and the accumulated corpus equals the one-shot batch operator."""
    from project_cortex_spark.operators import dedup as dd
    from project_cortex_spark.streaming import paradedup

    boiler = "subscribe to our newsletter today"
    batch1 = [(1, f"first unique paragraph content\n\n{boiler}")]
    batch2 = [(2, f"{boiler}\n\nsecond unique paragraph content"),
              (3, f"{boiler}")]
    schema = "doc_id LONG, text STRING"
    in_dir, out_dir, seen = (
        str(tmp_path / d) for d in ("in", "cleaned", "seen")
    )
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        q = paradedup.continuous_paragraph_dedup(
            spark,
            in_dir,
            schema,
            out_dir=out_dir,
            seen_dir=seen,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    got = sorted(
        map(tuple, paradedup.read_cleaned_corpus(spark, out_dir).collect())
    )
    batch_equiv = dd.dedup_paragraphs(
        spark.createDataFrame(batch1 + batch2, ["doc_id", "text"])
    )
    assert got == sorted(map(tuple, batch_equiv.collect()))
    assert got[1][1] == "second unique paragraph content"  # doc 2 lost boiler
    assert got[2][1] == "" and got[2][3] == 1  # doc 3 lost everything


def test_paragraph_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running a delivery's upsert (crash after the store write,
    before checkpoint commit) must reproduce byte-identical output: the
    batch excludes its OWN store partition when re-deriving."""
    import os

    from project_cortex_spark.streaming import paradedup

    boiler = "repeated across deliveries boilerplate"
    seen = str(tmp_path / "seen")
    out_dir = str(tmp_path / "cleaned")
    b1 = spark.createDataFrame(
        [(1, f"keep me only once\n\n{boiler}")], ["doc_id", "text"]
    )
    b2 = spark.createDataFrame([(2, f"{boiler}\n\nfresh text")], ["doc_id", "text"])

    def run(batch, batch_id):
        out, firsts = paradedup.dedup_batch(
            spark, batch, seen, exclude_batch=batch_id
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        firsts.write.mode("overwrite").parquet(
            os.path.join(seen, f"batch={batch_id}")
        )

    run(b1, 0)
    run(b2, 1)
    first_pass = sorted(
        map(tuple, paradedup.read_cleaned_corpus(spark, out_dir).collect())
    )
    run(b2, 1)  # replay the second delivery after its store write landed
    second_pass = sorted(
        map(tuple, paradedup.read_cleaned_corpus(spark, out_dir).collect())
    )
    assert first_pass == second_pass
    assert first_pass[1][1] == "fresh text"


def test_debounce_with_state(spark, tmp_path):
    """applyInPandasWithState bursts close via event-time timeout and
    match the batch debounce on the real (non-sentinel) events."""
    real = [
        (1, "2024-01-01 00:00:00", 10, 1.0),
        (2, "2024-01-01 00:04:00", 10, 2.0),  # within 300s: same burst
        (3, "2024-01-01 00:08:00", 10, 3.0),  # chained: still same burst
        (4, "2024-01-01 01:00:00", 10, 4.0),  # fresh leader
        (5, "2024-01-01 00:00:30", 20, 5.0),
    ]
    src = tmp_path / "src"
    _write_events(spark, real, str(src / "f0.parquet"))
    _write_events(spark, [(90, "2024-01-06 00:00:00", -1, 0.0)], str(src / "f1.parquet"))
    _write_events(spark, [(91, "2024-01-11 00:00:00", -2, 0.0)], str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .withColumn("event_type", F.lit("click"))
    )
    q = (
        stateful.debounce_with_state(stream, quiet_seconds=300)
        .writeStream.format("memory")
        .queryName("t_stateful_debounce")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        r["event_id"]: r["burst_len"]
        for r in spark.table("t_stateful_debounce").collect()
        if r["user_id"] >= 0
    }
    batch_df = spark.createDataFrame(
        real, ["event_id", "ts", "user_id", "value"]
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) ts", "user_id",
        "'click' AS event_type", "value",
    )
    from project_cortex_spark.operators.events import debounce

    want = {
        r["event_id"]: r["burst_len"]
        for r in debounce(batch_df, quiet_seconds=300).collect()
    }
    assert got == want == {1: 3, 4: 1, 5: 1}


def test_debounce_with_state_breaks_ts_ties_by_event_id(spark, tmp_path):
    """Tied timestamps must elect the LOWEST event_id as burst leader
    (the batch/(ts, event_id) contract) even when the higher id arrives
    first in the micro-batch — a stable ts-only sort would keep arrival
    order and emit event 8 as leader."""
    real = [
        (8, "2024-01-01 00:00:00", 10, 1.0),  # arrives first, same ts
        (3, "2024-01-01 00:00:00", 10, 2.0),  # lower id => true leader
        (9, "2024-01-01 00:02:00", 10, 3.0),  # same burst
    ]
    src = tmp_path / "src"
    _write_events(spark, real, str(src / "f0.parquet"))
    _write_events(spark, [(90, "2024-01-06 00:00:00", -1, 0.0)], str(src / "f1.parquet"))
    _write_events(spark, [(91, "2024-01-11 00:00:00", -2, 0.0)], str(src / "f2.parquet"))

    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .withColumn("event_type", F.lit("click"))
    )
    q = (
        stateful.debounce_with_state(stream, quiet_seconds=300)
        .writeStream.format("memory")
        .queryName("t_stateful_debounce_ties")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        r["event_id"]: r["burst_len"]
        for r in spark.table("t_stateful_debounce_ties").collect()
        if r["user_id"] >= 0
    }
    assert got == {3: 3}


def test_incremental_twap_closes_boundary_interval(spark, tmp_path):
    """A holding period that SPANS the delivery split must close against
    the carried state: value 10 held from delivery-1's last sample to
    delivery-2's first. The merged result equals the one-shot batch
    operator; replaying delivery 2 leaves it unchanged."""
    from project_cortex_spark.operators.events import twap as batch_twap
    from project_cortex_spark.streaming import twap as stwap

    d1 = [(1, "2024-01-01 00:00:00", 7, "m", 2.0),
          (2, "2024-01-01 00:10:00", 7, "m", 10.0)]
    d2 = [(3, "2024-01-01 01:10:00", 7, "m", 4.0),  # closes 10.0 @ 3600s
          (4, "2024-01-01 01:11:00", 7, "m", 8.0)]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]

    def frame(rows):
        return spark.createDataFrame(rows, cols).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) ts", "user_id",
            "event_type", "value",
        )

    partials, state = str(tmp_path / "p"), str(tmp_path / "s")

    def run(rows, batch_id):
        import os

        partial, lasts = stwap.twap_batch(
            spark, frame(rows), state, exclude_batch=batch_id
        )
        partial.write.mode("overwrite").parquet(
            os.path.join(partials, f"batch={batch_id}")
        )
        lasts.write.mode("overwrite").parquet(
            os.path.join(state, f"batch={batch_id}")
        )

    run(d1, 0)
    run(d2, 1)
    got = stwap.read_twap(spark, partials).collect()
    want = batch_twap(frame(d1 + d2)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got[0]["n_intervals"] == 3  # boundary interval included
    run(d2, 1)  # replay: idempotent
    again = stwap.read_twap(spark, partials).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, want))


def test_stream_table_reads_directory_layout(spark, tmp_path):
    """A parquet TABLE is usually a directory of part files (the
    production layout); stream_table must discover them — a leaf-name
    pathGlobFilter would silently stream zero files (sf1 regression)."""
    rows = [(1, "2024-01-01 00:00:00", 10, 1.0), (2, "2024-01-01 00:01:00", 11, 2.0)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"]) \
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    sf_dir = str(tmp_path / "sfdir")
    df.repartition(2).write.parquet(sf_dir + "/events.parquet")  # directory table
    out = source.run_to_memory(
        source.stream_table(spark, sf_dir, "events"),
        query_name="t_dir_layout_stream",
        output_mode="append",
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_continuous_doc_vectors_matches_batch_embedding(spark, registry, tmp_path):
    """Two deliveries through the streaming vector store == one-shot
    batch embedding of the full corpus (exactly-once, append-only)."""
    from pyspark.sql import functions as F

    from project_cortex_spark.operators.search import build_doc_vectors
    from project_cortex_spark.streaming import hybrid as stream_hybrid

    docs = registry.table("documents").limit(60).cache()
    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    for parity in (0, 1):
        docs.filter(F.col("doc_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        q = stream_hybrid.continuous_doc_vectors(
            spark, in_dir, docs.schema, store_dir=store,
            checkpoint_dir=ckpt, dim=16,
        )
        q.awaitTermination()
    got = {
        r.doc_id: list(r.embedding)
        for r in stream_hybrid.read_doc_vectors(spark, store).collect()
    }
    want = {
        r.doc_id: list(r.embedding)
        for r in build_doc_vectors(docs, dim=16).collect()
    }
    assert got == want


def test_incremental_components_cross_batch_merges(spark, tmp_path):
    """merge_pairs_batch folds batches into the map; a chain delivered
    one link per batch (worst case: every batch merges two existing
    components) must end identical to one-shot CC."""
    from project_cortex_spark.operators.graph import connected_components
    from project_cortex_spark.streaming.components import (
        merge_pairs_batch,
        read_components,
    )

    store = str(tmp_path / "cc_store")
    # batch 1: two separate components {1,2} {10,11}
    # batch 2: a new component {20,21} plus a bridge 2-10 (merges the
    #          first two; new root must be 1 for old nodes 10,11)
    # batch 3: bridge 11-20 (merges everything into root 1) plus a
    #          self-loop and a duplicate pair (no-ops)
    batches = [
        [(1, 2), (10, 11)],
        [(20, 21), (2, 10)],
        [(11, 20), (5, 5), (1, 2)],
    ]
    all_pairs = [p for b in batches for p in b]
    for b in batches:
        merge_pairs_batch(
            spark, spark.createDataFrame(b, ["a", "b"]), store
        )
    got = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in read_components(spark, store).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in connected_components(
            spark.createDataFrame(all_pairs, ["a", "b"])
        ).collect()
    }
    # both keep every node seen in a pair row: the self-loop-only node
    # 5 is its own singleton cluster in the stream map and in one-shot CC
    assert got == want
    assert (5, 5, True) in got
    assert (1, 1, True) in got and (21, 1, False) in got


def test_incremental_components_store_swap_crash_recovery(spark, tmp_path):
    """A crash inside the two-rename swap window leaves only __bak;
    the next merge must heal it and lose nothing."""
    import os

    from project_cortex_spark.streaming.components import (
        merge_pairs_batch,
        read_components,
    )

    store = str(tmp_path / "cc_store")
    merge_pairs_batch(spark, spark.createDataFrame([(1, 2)], ["a", "b"]), store)
    # simulate the mid-swap crash: live renamed away, __bak left behind
    os.rename(store, store + "__bak")
    merge_pairs_batch(spark, spark.createDataFrame([(2, 3)], ["a", "b"]), store)
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in read_components(spark, store).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_persisted_pq_index_lifecycle(spark, registry, tmp_path):
    """The persisted-PQ contract (VERDICT r7 item 5 — store parity with
    IVF): codebooks round-trip through the index directory bit-exactly;
    a stream job given codebooks=None encodes against the PERSISTED
    tensor and the incremental store equals a one-shot encode; and
    retrain_pq_and_swap (retrain on the accumulated store, re-encode,
    two-rename swap) compacts per-batch files while reproducing the
    same codebooks from the same vector set."""
    import numpy as np

    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings")
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=8,
        n_codes=8, iters=4,
    )
    idx = str(tmp_path / "idx")
    vec_index.write_codebooks(spark, books, idx)
    assert np.array_equal(vec_index.read_codebooks(spark, idx), books)
    in_dir = str(tmp_path / "in")
    for parity in (0, 1):
        emb.filter(F.col("vec_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        q = vec_index.continuous_pq_index(
            spark, in_dir, emb.schema,
            index_dir=idx, checkpoint_dir=str(tmp_path / "ckpt"),
        )  # codebooks=None -> loaded from the index
        q.awaitTermination()
    store = vec_index.read_pq_index(spark, idx)
    n_vecs = emb.count()
    assert store.count() == n_vecs
    before = {
        (r.vec_id, tuple(r.pq_codes))
        for r in store.select("vec_id", "pq_codes").collect()
    }
    # incremental encode == one-shot encode (deterministic given books)
    oneshot = {
        (r.vec_id, tuple(r.pq_codes))
        for r in knn_mod.pq_encode(emb, books)
        .select("vec_id", "pq_codes")
        .collect()
    }
    assert before == oneshot
    stats = vec_index.retrain_pq_and_swap(
        spark, idx, n_subspaces=8, n_codes=8, iters=4, target_files=1
    )
    assert stats["files_after"] < stats["files_before"]
    # same vector set + ordered replayable trainer => same codebooks,
    # hence identical codes after the rebuild
    assert np.array_equal(vec_index.read_codebooks(spark, idx), books)
    after = {
        (r.vec_id, tuple(r.pq_codes))
        for r in vec_index.read_pq_index(spark, idx)
        .select("vec_id", "pq_codes")
        .collect()
    }
    assert after == before and len(after) == n_vecs


def test_semdedup_batch_replay_is_idempotent(spark, registry, tmp_path):
    """A replayed delivery (crash between store write and checkpoint
    commit) must re-derive the SAME decisions and keepers: the batch
    excludes its OWN store partition, so it cannot prune itself as
    already-stored duplicates."""
    import os

    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import semdedup as stream_sd

    emb = registry.table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=8, iters=4
    )
    store = str(tmp_path / "keepers")
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250)

    def run(batch, batch_id):
        decisions, keepers = stream_sd.dedup_batch(
            spark, batch, store, cents, threshold=0.7,
            exclude_batch=batch_id,
        )
        got = sorted(map(tuple, decisions.collect()))
        keepers.write.mode("overwrite").parquet(
            os.path.join(store, f"batch={batch_id}")
        )
        return got

    run(b0, 0)
    first = run(b1, 1)
    second = run(b1, 1)  # replay after its store write landed
    assert first == second
    # arrival priority: at least one batch-1 doc must be pruned by a
    # stored batch-0 keeper on the near-dup fixture (threshold 0.7
    # emits cross pairs, see dedup_embedding_ivf), i.e. the store path
    # is actually exercised
    d1 = {r[0]: r[4] for r in first}
    within_only = {
        r["doc_id"]: r["keep"]
        for r in __import__(
            "project_cortex_spark.operators.dedup", fromlist=["dedup"]
        ).semdedup(b1, threshold=0.7, centroids=cents).collect()
    }
    store_pruned = [d for d, k in within_only.items() if k and not d1[d]]
    assert store_pruned, "no batch-1 keeper was pruned by the store"


def test_pq_batch_replay_is_idempotent(spark, registry, tmp_path):
    """ADVICE r8 (low): a delivery retried after a partial failure
    (crash after the store write, before checkpoint commit) re-runs
    with the SAME batch_id; the batch_id-keyed overwrite must leave the
    store byte-identical instead of duplicating vec_ids (which would
    skew both the ADC probe and the retrain sample)."""
    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings").limit(64)
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=4,
        n_codes=4, iters=2,
    )
    idx = str(tmp_path / "idx")
    vec_index.write_codebooks(spark, books, idx)
    vec_index.pq_encode_batch(emb, books, idx, 0)
    first = sorted(
        (r.vec_id, tuple(r.pq_codes))
        for r in vec_index.read_pq_index(spark, idx)
        .select("vec_id", "pq_codes")
        .collect()
    )
    vec_index.pq_encode_batch(emb, books, idx, 0)  # the replay
    second = sorted(
        (r.vec_id, tuple(r.pq_codes))
        for r in vec_index.read_pq_index(spark, idx)
        .select("vec_id", "pq_codes")
        .collect()
    )
    assert first == second and len(first) == 64


def test_persisted_pq_rebuild_heals_crashed_swap(spark, registry, tmp_path):
    """A crash inside retrain_pq_and_swap's two-rename window leaves
    only <idx>__bak; the next rebuild must heal it (recover_store) and
    proceed — the same crash contract as the IVF store."""
    import os

    from project_cortex_spark.operators import knn as knn_mod
    from project_cortex_spark.streaming import vec_index

    emb = registry.table("embeddings").limit(64)
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=4,
        n_codes=4, iters=2,
    )
    idx = str(tmp_path / "idx")
    vec_index.write_codebooks(spark, books, idx)
    knn_mod.pq_encode(emb, books).write.parquet(
        os.path.join(idx, "codes", "batch=0")
    )
    n = vec_index.read_pq_index(spark, idx).count()
    # simulate the crash: live dir renamed away, __bak holds the data
    os.rename(idx, idx + "__bak")
    stats = vec_index.retrain_pq_and_swap(
        spark, idx, n_subspaces=4, n_codes=4, iters=2
    )
    assert stats["files_after"] >= 1
    assert vec_index.read_pq_index(spark, idx).count() == n
    assert not os.path.exists(idx + "__bak")


def test_incremental_ed_index_equals_batch(spark, tmp_path):
    """Two deliveries maintain the (doc_id, key) store; merge-on-read
    PassJoin pairs equal the one-shot batch ED join over the union —
    including a cross-delivery near pair (1 vs 4, one substitution)."""
    from project_cortex_spark.operators import dedup as dd
    from project_cortex_spark.streaming import editdist

    base = "the quick brown fox jumps over x"  # 32 chars
    batch1 = [(1, base), (2, base + " tail")]
    batch2 = [
        (3, "completely unrelated text here!!"),
        (4, "the quick brown fix jumps over x"),
    ]
    schema = "doc_id LONG, text STRING"
    in_dir = tmp_path / "in"
    keys = str(tmp_path / "keys")
    for rows in (batch1, batch2):
        spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
            "append"
        ).parquet(str(in_dir))
        q = editdist.continuous_keys(
            spark,
            str(in_dir),
            schema,
            keys_dir=keys,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
    all_docs = spark.createDataFrame(batch1 + batch2, ["doc_id", "text"])
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in editdist.read_pairs(spark, keys).collect()
    }
    want = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(all_docs).collect()
    }
    assert got == want
    assert got[(1, 2)] == 0 and got[(1, 4)] == 1 and got[(2, 4)] == 1


def test_ed_store_replay_idempotent(spark, tmp_path):
    """A replayed delivery overwrites its own batch partition: applying
    the same upsert twice leaves no duplicate key rows (the paradedup
    replay discipline)."""
    import os

    from project_cortex_spark.operators import dedup as dd

    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over x")], ["doc_id", "text"]
    )
    keys_dir = str(tmp_path / "keys")
    for _ in range(2):  # the retried delivery
        dd.edit_distance_keys(batch).write.mode("overwrite").parquet(
            os.path.join(keys_dir, "batch=0")
        )
    stored = spark.read.option("recursiveFileLookup", "true").parquet(
        keys_dir
    )
    assert stored.count() == 1
