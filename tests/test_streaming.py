"""Structured Streaming: windowed aggs over the stream match batch;
foreachBatch incremental index maintenance applies latest-wins."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vector_graph_native_database__spark.sources import load_table
from vector_graph_native_database__spark.streaming import (
    commit_state,
    incremental_index_maintenance,
    read_state,
    stream_events,
)
from vector_graph_native_database__spark.streaming.windows import tumbling_agg


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = stream_events(spark, sf_dir, with_watermark="30 minutes")
    assert stream.isStreaming
    agg = tumbling_agg(stream)
    tmp = tempfile.mkdtemp(prefix="vgs-stream-")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("tumbling_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in spark.sql("SELECT * FROM tumbling_test").collect()
        }
        want = {
            (r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
            for r in tumbling_agg(load_table(spark, sf_dir, "events")).collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_index_maintenance(spark):
    tmp = tempfile.mkdtemp(prefix="vgs-ingest-")
    src, state, ckpt = f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt"
    schema = "id string, text string, seq long"
    try:
        # micro-batch 1: two docs
        spark.createDataFrame(
            [("a", "first version", 1), ("b", "doc b", 1)], schema
        ).write.mode("append").parquet(src)
        incremental_index_maintenance(spark, src, schema, state, ckpt)
        s1 = {r["node_id"] for r in read_state(spark, state).collect()}
        assert s1 == {"a", "b"}

        # micro-batch 2: update a, add c — only the new batch is embedded
        spark.createDataFrame(
            [("a", "second version", 2), ("c", "doc c", 2)], schema
        ).write.mode("append").parquet(src)
        incremental_index_maintenance(spark, src, schema, state, ckpt)
        final = {r["node_id"]: r["vector"] for r in read_state(spark, state).collect()}
        assert set(final) == {"a", "b", "c"}

        # latest wins: a's vector reflects "second version"
        from vector_graph_native_database__spark.functions.textfn import (
            embed_hash_df,
        )

        want = embed_hash_df(
            spark.createDataFrame([("a", "second version")], "id string, text string")
        ).collect()[0]["vector"]
        assert final["a"] == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_state_commit_is_crash_safe(spark):
    """Kill the commit protocol between every pair of steps and prove
    the previously committed snapshot is still served.

    Simulated crash points: (a) after the new version dir is fully
    written but before the pointer flip — the classic torn two-step
    swap the old implementation could corrupt on; (b) mid-pointer-
    write, leaving a partial ._CURRENT.tmp; (c) after the flip but
    before GC. Then a real commit on the damaged store must succeed
    and supersede the orphans.
    """
    import os

    tmp = tempfile.mkdtemp(prefix="vgs-txstate-")
    state = f"{tmp}/state"
    mk = lambda rows: spark.createDataFrame(rows, "id string, n long")
    try:
        v1 = commit_state(mk([("a", 1)]), state)
        assert {r["id"] for r in read_state(spark, state).collect()} == {"a"}

        # (a) crash AFTER writing the next version's data, BEFORE the
        # pointer flip: write the orphan dir exactly where commit
        # no. 2 would put it
        mk([("BAD", 99)]).write.parquet(os.path.join(state, "v000002"))
        got = {r["id"] for r in read_state(spark, state).collect()}
        assert got == {"a"}, "orphan version must be invisible"

        # (b) crash mid-pointer-write: partial temp file lingers
        with open(os.path.join(state, "._CURRENT.tmp"), "w") as f:
            f.write("v0000")  # torn write
        assert {r["id"] for r in read_state(spark, state).collect()} == {"a"}

        # recovery: the next real commit overwrites the orphan and
        # becomes visible atomically
        v2 = commit_state(mk([("a", 1), ("b", 2)]), state)
        assert v2 == "v000002"
        assert {r["id"] for r in read_state(spark, state).collect()} == {
            "a",
            "b",
        }

        # (c) GC keeps the previous version for in-flight readers,
        # sweeps older ones on the following commit
        assert os.path.isdir(os.path.join(state, v1))
        v3 = commit_state(mk([("c", 3)]), state)
        versions = sorted(
            e for e in os.listdir(state) if e.startswith("v")
        )
        assert versions == [v2, v3], "only live + previous retained"
        assert {r["id"] for r in read_state(spark, state).collect()} == {"c"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_legacy_flat_state_refused_then_migrated(spark):
    """A pre-versioning flat state dir must RAISE from read_state
    (silently reading it as 'no prior state' would make the next
    maintenance commit drop all accumulated state), and migrate_state
    must adopt it as the first committed version losslessly."""
    from vector_graph_native_database__spark.streaming import migrate_state

    tmp = tempfile.mkdtemp(prefix="vgs-legacy-")
    state = f"{tmp}/state"
    try:
        spark.createDataFrame(
            [("a", 1), ("b", 2)], "id string, n long"
        ).write.parquet(state)
        with pytest.raises(ValueError, match="migrate_state"):
            read_state(spark, state)
        v = migrate_state(spark, state)
        assert v == "v000001"
        got = {
            r["id"]: r["n"] for r in read_state(spark, state).collect()
        }
        assert got == {"a": 1, "b": 2}
        # idempotent: a second call is a no-op on an adopted dir
        assert migrate_state(spark, state) is None
        # and normal commits continue from the adopted version
        v2 = commit_state(
            spark.createDataFrame([("c", 3)], "id string, n long"), state
        )
        assert v2 == "v000002"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_multimodal_plumbing(spark):
    from vector_graph_native_database__spark.multimodal import (
        attach_binary,
        fake_decode_image_meta,
        frame_sample,
    )

    df = spark.createDataFrame(
        [("a", "x" * 100), ("b", "y" * 600)], "id string, text string"
    )
    binary = attach_binary(df)
    row = {r["id"]: r for r in binary.collect()}
    assert bytes(row["a"]["payload"]) == b"x" * 100
    assert row["a"]["n_bytes"] == 100

    meta = {r["id"]: r for r in fake_decode_image_meta(binary).collect()}
    assert meta["a"]["width"] == 64 + (100 % 577)
    assert meta["b"]["height"] == 64 + ((600 * 31) % 449)

    frames = frame_sample(binary).groupBy("id").count().collect()
    by_id = {r["id"]: r["count"] for r in frames}
    assert by_id == {"a": 1, "b": 8}  # 100//64=1 frame; 600//64=9 → capped 8

    with pytest.raises(Exception, match="PIL|NotImplemented"):
        fake_decode_image_meta(binary, real_decode=True).collect()


def test_stateful_running_totals_accumulate_across_batches(spark):
    import pandas as pd

    from vector_graph_native_database__spark.streaming import (
        running_user_totals,
    )

    tmp = tempfile.mkdtemp(prefix="vgs-stateful-")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "user_id long, value double"

    def run_batch():
        stream = spark.readStream.schema(schema).parquet(src)
        rows = []

        def capture(batch_df, batch_id):
            rows.extend(batch_df.collect())

        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
            for r in rows
        }

    try:
        spark.createDataFrame(
            [(1, 10.0), (1, 5.0), (2, 7.0)], schema
        ).write.mode("append").parquet(src)
        got1 = run_batch()
        assert got1[1] == (2, 15.0, 10.0) and got1[2] == (1, 7.0, 7.0)

        # second batch: state picks up where batch 1 left off
        spark.createDataFrame([(1, 1.0), (3, 2.0)], schema).write.mode(
            "append"
        ).parquet(src)
        got2 = run_batch()
        assert got2[1] == (3, 16.0, 10.0)
        assert got2[3] == (1, 2.0, 2.0)
        assert 2 not in got2  # no new rows for user 2 -> no update emitted
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_bm25_state_matches_full_recompute(spark):
    from vector_graph_native_database__spark.operators.bm25 import (
        bm25_scores,
        stats_from_posting,
    )
    from vector_graph_native_database__spark.streaming import (
        incremental_bm25_maintenance,
    )

    tmp = tempfile.mkdtemp(prefix="vgs-bm25inc-")
    src, state, ckpt = f"{tmp}/src", f"{tmp}/state", f"{tmp}/ckpt"
    schema = "id string, text string, seq long"
    try:
        spark.createDataFrame(
            [("a", "the quick brown fox", 1), ("b", "lazy dog sleeps", 1)],
            schema,
        ).write.mode("append").parquet(src)
        incremental_bm25_maintenance(spark, src, schema, state, ckpt)

        # batch 2 rewrites a and adds c — only the delta is tokenized
        spark.createDataFrame(
            [("a", "quick quick fox jumps", 2), ("c", "the dog barks", 2)],
            schema,
        ).write.mode("append").parquet(src)
        incremental_bm25_maintenance(spark, src, schema, state, ckpt)

        final_corpus = spark.createDataFrame(
            [("a", "quick quick fox jumps"), ("b", "lazy dog sleeps"),
             ("c", "the dog barks")],
            "id string, text string",
        )
        want = {
            r["id"]: round(r["score"], 9)
            for r in bm25_scores(final_corpus, "quick dog").collect()
        }
        stats = stats_from_posting(read_state(spark, state))
        got = {
            r["id"]: round(r["score"], 9)
            for r in bm25_scores(final_corpus, "quick dog", stats=stats).collect()
        }
        assert got == want and len(got) == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drops_late_data_across_restarts(spark):
    """Append-mode windowed agg: a row arriving after the watermark
    passed its window is dropped; the finalized window emits without
    it. Driven as three checkpointed availableNow runs (watermark
    state persists in the checkpoint)."""
    from datetime import datetime as dt

    from vector_graph_native_database__spark.streaming.windows import (
        tumbling_agg,
    )

    tmp = tempfile.mkdtemp(prefix="vgs-late-")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    schema = "ts timestamp, event_type string, value double"

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src).withWatermark(
            "ts", "10 minutes"
        )
        q = (
            tumbling_agg(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return {
                r["window_start"]: (r["n"], r["sum_value"])
                for r in spark.read.parquet(out).collect()
            }
        except Exception:
            return {}

    try:
        # batch 0: two rows in the 10:00 window + one at 12:05 that
        # will advance the watermark to 11:55
        got = run(
            [
                (dt(2024, 1, 1, 10, 5), "x", 1.0),
                (dt(2024, 1, 1, 10, 30), "x", 2.0),
                (dt(2024, 1, 1, 12, 5), "x", 4.0),
            ]
        )
        # the availableNow run ends with a no-data micro-batch that
        # advances the watermark to 11:55 and finalizes 10:00-11:00
        assert got == {"2024-01-01 10:00:00": (2, 3.0)}
        # run 2: 10:45 is LATE (watermark passed its window) → dropped;
        # 13:30 advances the watermark and finalizes the 12:00 window
        got = run(
            [
                (dt(2024, 1, 1, 10, 45), "x", 8.0),
                (dt(2024, 1, 1, 13, 30), "x", 16.0),
            ]
        )
        assert got["2024-01-01 10:00:00"] == (2, 3.0)  # late row absent
        assert got["2024-01-01 12:00:00"] == (1, 4.0)
        # run 3: finalize the 13:00 window; the dropped late row never
        # resurfaces anywhere
        got = run([(dt(2024, 1, 1, 15, 0), "x", 32.0)])
        assert got["2024-01-01 13:00:00"] == (1, 16.0)
        assert got["2024-01-01 10:00:00"] == (2, 3.0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_within_watermark(spark):
    from datetime import datetime as dt

    from vector_graph_native_database__spark.streaming.ingest import (
        dedup_stream,
    )

    tmp = tempfile.mkdtemp(prefix="vgs-sdedup-")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "event_id long, ts timestamp, value double"
    try:
        spark.createDataFrame(
            [
                (1, dt(2024, 1, 1, 10, 0), 1.0),
                (1, dt(2024, 1, 1, 10, 5), 1.0),  # dup within horizon
                (2, dt(2024, 1, 1, 10, 10), 2.0),
            ],
            schema,
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            dedup_stream(stream, ["event_id"])
            .writeStream.format("memory")
            .queryName("sdedup_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT event_id FROM sdedup_test").collect()
        assert sorted(r["event_id"] for r in got) == [1, 2]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_interval_join_pairs_bounded_by_lookback(spark):
    from vector_graph_native_database__spark.registry.eventsq import (
        q_events_stream_join,
    )

    rows = q_events_stream_join(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected purchase<-click attribution pairs"
    # batch twin computed inline: identical pair counts per user
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select("user_id", F.col("ts").alias("p_ts"))
    c = ev.filter(
        (F.col("event_type") == "click") & F.col("user_id").isNotNull()
    ).select(F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"))
    batch = (
        p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
    )
    got = {r["user_id"]: r["n_pairs"] for r in rows}
    want = {r["user_id"]: r["n_pairs"] for r in batch.collect()}
    assert got == want


def test_tws_running_totals_v2_api(spark):
    # transformWithStateInPandas execution needs a working protobuf
    # (see UserTotalsProcessor docstring); skip in containers without it
    pytest.importorskip("google.protobuf.descriptor")
    import pandas as pd  # noqa: F401

    from vector_graph_native_database__spark.streaming.stateful import (
        running_user_totals_tws,
    )

    tmp = tempfile.mkdtemp(prefix="vgs-tws-")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    schema = "user_id long, value double"
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], schema
    ).write.mode("append").parquet(src)
    rows = []

    def capture(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (
        running_user_totals_tws(
            spark.readStream.schema(schema).parquet(src)
        )
        .writeStream.foreachBatch(capture)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in rows
    }
    assert got == {1: (2, 15.0, 10.0), 2: (1, 7.0, 7.0)}


def test_tws_plan_builds_without_protobuf(spark):
    """The v2-API operator must at least ANALYZE in this container
    (the capability gate is at execution, not plan time)."""
    from vector_graph_native_database__spark.streaming.stateful import (
        running_user_totals_tws,
    )

    schema = "user_id long, value double"
    stream = spark.readStream.schema(schema).parquet(
        tempfile.mkdtemp(prefix="vgs-twsplan-")
    )
    df = running_user_totals_tws(stream)
    assert df.schema.simpleString().startswith(
        "struct<user_id:bigint,n_events:bigint"
    )


def test_time_travel_versions_and_orphan_rejection(spark, tmp_path):
    import os

    from vector_graph_native_database__spark.streaming.ingest import (
        commit_state,
        list_state_versions,
        read_state_version,
    )

    state = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v1 = commit_state(df1, state)
    v2 = commit_state(df2, state)
    assert list_state_versions(state) == [v1, v2]
    assert read_state_version(spark, state, v1).count() == 1
    assert read_state_version(spark, state, v2).count() == 2
    # an uncommitted orphan newer than _CURRENT must not be readable
    orphan = os.path.join(state, "v999999")
    os.makedirs(orphan)
    assert "v999999" not in list_state_versions(state)
    try:
        read_state_version(spark, state, "v999999")
        assert False, "orphan read should raise"
    except ValueError:
        pass


# --- every incremental_*_maintenance through the shared kernel ----------
#
# One case per maintainer: tiny batches replayed through the real
# foreachBatch path, the exact final state asserted, then a zero-row
# parquet file appended to the source must commit no new version (the
# kernel's empty-batch guard). Each case is
# (maintainer name, schema, batches, state dir names, kwargs, check);
# ``check(spark, *state_dirs)`` asserts the final state.


def _sorted_rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _check_index(spark, state):
    from vector_graph_native_database__spark.functions.textfn import (
        embed_hash_df,
    )

    final = spark.createDataFrame(
        [("a", "second version"), ("b", "doc b"), ("c", "doc c")],
        "id string, text string",
    )
    want = _sorted_rows(embed_hash_df(final), "id", "vector", "dim")
    assert _sorted_rows(
        read_state(spark, state), "node_id", "vector", "dim"
    ) == want


def _check_vector(spark, state):
    got = {
        r["node_id"]: list(r["vector"])
        for r in read_state(spark, state).collect()
    }
    # a's seq-2 row beats its seq-1 row inside the same batch
    assert got == {"a": [0.5, 0.5], "b": [0.0, 1.0], "c": [2.0, 2.0]}


def _check_vector_cdc(spark, state):
    got = {
        r["node_id"]: [round(x, 3) for x in r["vector"]]
        for r in read_state(spark, state).collect()
    }
    assert got == {"b": [0.5, 0.5], "c": [2.0, 2.0]}


def _check_bm25(spark, state):
    from vector_graph_native_database__spark.operators.bm25 import (
        posting_frame,
    )

    final = spark.createDataFrame(
        [("a", "quick quick fox jumps"), ("b", "lazy dog sleeps"),
         ("c", "the dog barks")],
        "id string, text string",
    )
    want = _sorted_rows(posting_frame(final), "id", "tok", "tf")
    assert _sorted_rows(read_state(spark, state), "id", "tok", "tf") == want


_SKETCH_DOCS = [[("1", "a b a"), ("2", "c")], [("3", "a d")]]
_SKETCH_EVENTS = [
    [(1, "x", 10), (2, "x", 11), (3, "y", 10)],
    [(4, "x", 12), (5, "y", 13), (6, "y", 10), (7, "x", 10)],
]


def _all_rows(spark, batches, schema):
    return spark.createDataFrame([r for b in batches for r in b], schema)


def _check_cms(spark, state):
    from vector_graph_native_database__spark.operators.sketch import (
        cms_partial_counters,
    )

    full = _all_rows(spark, _SKETCH_DOCS, "id string, text string")
    got = _sorted_rows(read_state(spark, state), "d", "b", "cnt")
    want = _sorted_rows(
        cms_partial_counters(full, "text", depth=2, width=4), "d", "b", "cnt"
    )
    assert got == want
    # every depth row counts all six tokens exactly once
    assert {d: sum(c for dd, _, c in got if dd == d) for d in (0, 1)} == {
        0: 6,
        1: 6,
    }


def _check_hll(spark, state):
    from vector_graph_native_database__spark.operators.sketch import (
        hll_registers,
    )

    full = _all_rows(
        spark, _SKETCH_EVENTS, "event_id long, event_type string, user_id long"
    )
    want = hll_registers(full, "event_type", "user_id", m=8)
    assert _sorted_rows(
        read_state(spark, state), "grp", "reg", "mrho"
    ) == _sorted_rows(want, "grp", "reg", "mrho")


def _check_kmv(spark, state):
    from vector_graph_native_database__spark.operators.sketch import (
        kmv_state,
    )

    full = _all_rows(
        spark, _SKETCH_EVENTS, "event_id long, event_type string, user_id long"
    )
    got = _sorted_rows(read_state(spark, state), "event_type", "u")
    assert got == _sorted_rows(
        kmv_state(full, "event_type", "user_id", k=2), "event_type", "u"
    )
    # x and y each saw three distinct users; the merge keeps k=2
    assert [g for g, _ in got] == ["x", "x", "y", "y"]


def _check_markov(spark, counts_d, carry_d):
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in read_state(spark, counts_d).collect()
    }
    # in-batch a->b (user 1) plus boundary a->b (user 2) = 2
    assert got == {("a", "b"): 2, ("b", "c"): 1}
    carry = {
        r["user_id"]: r["last_type"]
        for r in read_state(spark, carry_d).collect()
    }
    assert carry == {1: "c", 2: "b"}


def _check_group_count(spark, state):
    got = {r["grp"]: r["n"] for r in read_state(spark, state).collect()}
    assert got == {"en": 3, "fr": 1, "de": 1}


def _markov_batches():
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    # batch 1: user 1 does a, b ; user 2 does a
    b1 = [(1, t0, 1, "a"), (2, t0 + dt.timedelta(minutes=1), 1, "b"),
          (3, t0, 2, "a")]
    # batch 2: user 1 does c (boundary b->c); user 2 does b (boundary a->b)
    t1 = t0 + dt.timedelta(hours=1)
    b2 = [(4, t1, 1, "c"), (5, t1, 2, "b")]
    return [b1, b2]


MAINTAINER_CASES = {
    "index": (
        "incremental_index_maintenance",
        "id string, text string, seq long",
        [[("a", "first version", 1), ("b", "doc b", 1)],
         [("a", "second version", 2), ("c", "doc c", 2)]],
        ("state",),
        {},
        _check_index,
    ),
    "vector": (
        "incremental_vector_maintenance",
        "node_id string, vector array<float>, seq long",
        [[("a", [1.0, 0.0], 0), ("b", [0.0, 1.0], 0)],
         [("a", [0.5, 0.5], 2), ("a", [7.0, 7.0], 1), ("c", [2.0, 2.0], 1)]],
        ("state",),
        {},
        _check_vector,
    ),
    "vector_cdc": (
        "incremental_vector_cdc_maintenance",
        "node_id string, vector array<float>, op string, seq long",
        [[("a", [1.0, 0.0], "I", 0), ("b", [0.0, 1.0], "I", 0)],
         # delete a, rewrite b, insert c -- b's seq-2 rewrite must beat
         # its delete
         [("a", [9.9, 9.9], "D", 1), ("b", [0.0, 0.0], "D", 1),
          ("b", [0.5, 0.5], "I", 2), ("c", [2.0, 2.0], "I", 1)]],
        ("state",),
        {},
        _check_vector_cdc,
    ),
    "bm25": (
        "incremental_bm25_maintenance",
        "id string, text string, seq long",
        [[("a", "the quick brown fox", 1), ("b", "lazy dog sleeps", 1)],
         [("a", "quick quick fox jumps", 2), ("c", "the dog barks", 2)]],
        ("state",),
        {},
        _check_bm25,
    ),
    "cms": (
        "incremental_cms_maintenance",
        "id string, text string",
        _SKETCH_DOCS,
        ("state",),
        {"depth": 2, "width": 4},
        _check_cms,
    ),
    "hll": (
        "incremental_hll_maintenance",
        "event_id long, event_type string, user_id long",
        _SKETCH_EVENTS,
        ("state",),
        {"group_col": "event_type", "value_col": "user_id", "m": 8},
        _check_hll,
    ),
    "kmv": (
        "incremental_kmv_maintenance",
        "event_id long, event_type string, user_id long",
        _SKETCH_EVENTS,
        ("state",),
        {"group_col": "event_type", "value_col": "user_id", "k": 2},
        _check_kmv,
    ),
    "markov": (
        "incremental_markov_maintenance",
        "event_id long, ts timestamp, user_id long, event_type string",
        _markov_batches(),
        ("counts", "carry"),
        {},
        _check_markov,
    ),
    "group_count": (
        "incremental_group_count_maintenance",
        "id string, lang string",
        [[("1", "en"), ("2", "en"), ("3", "fr")], [("4", "en"), ("5", "de")]],
        ("state",),
        {"group_col": "lang"},
        _check_group_count,
    ),
}


@pytest.mark.parametrize("case", list(MAINTAINER_CASES))
def test_maintainer_final_state_and_empty_batch_guard(spark, tmp_path, case):
    from vector_graph_native_database__spark.streaming import ingest

    fn_name, schema, batches, state_names, kw, check = MAINTAINER_CASES[case]
    maintain = getattr(ingest, fn_name)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    states = [str(tmp_path / n) for n in state_names]

    def replay(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        return maintain(spark, src, schema, *states, ckpt, **kw)

    for rows in batches:
        replay(rows)
    check(spark, *states)

    before = [ingest.list_state_versions(d) for d in states]
    q = replay([])
    assert q.lastProgress["numInputRows"] == 0
    assert [ingest.list_state_versions(d) for d in states] == before
    check(spark, *states)
