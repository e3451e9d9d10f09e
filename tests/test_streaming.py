from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbeam_spark.queries.streaming import stream_dedup, stream_window_agg
from dbeam_spark.sources.files import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_stream_window_agg_equals_batch(spark):
    streamed = stream_window_agg(spark, SF_DIR).collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def test_stream_dedup_counts(spark):
    ev = load_table(spark, SF_DIR, "events")
    expected = ev.agg(
        F.count_distinct("event_id"), F.count_distinct("user_id")
    ).collect()[0]
    got = stream_dedup(spark, SF_DIR).collect()[0]
    assert tuple(got) == tuple(expected)


def test_windowed_late_metrics_counts_planted_late_rows(spark, tmp_path):
    """Plant rows that arrive behind the watermark (file 2 is an hour
    older than the watermark after file 1) and check the drop counter
    surfaces exactly those rows."""
    import glob
    import os
    import shutil
    import uuid as _uuid
    from datetime import datetime

    from dbeam_spark.queries.streaming import windowed_late_metrics

    schema_sql = (
        "event_id long, user_id long, event_type string, "
        "value double, props string, ts timestamp"
    )

    def mk(ts_hour: int, ids: range):
        return spark.createDataFrame(
            [
                (i, i, "click", 1.0, "{}", datetime(2024, 1, 1, ts_hour, 0, i % 60))
                for i in ids
            ],
            schema_sql,
        )

    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    batches = [
        ("a_current", mk(12, range(10))),     # watermark -> 11:00
        ("b_late", mk(9, range(100, 105))),   # 09:xx < 11:00 -> dropped
        ("c_flush", mk(23, range(200, 201))),  # advances + flushes
    ]
    for i, (fname, df) in enumerate(batches):
        tmp = str(tmp_path / f"_b{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = os.path.join(stream_dir, f"{fname}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (1700000000 + i * 10, 1700000000 + i * 10))

    stream = (
        spark.readStream.schema(schema_sql)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    n_input, dropped, n_batches = windowed_late_metrics(
        stream, f"late_{_uuid.uuid4().hex[:8]}", watermark_delay_seconds=3600
    )
    assert n_input == 16
    assert dropped == 5
    assert n_batches >= 3


def test_stream_enrich_dim_equals_batch_join(spark):
    from pyspark.sql import functions as F

    from dbeam_spark.queries.streaming import stream_enrich_dim
    from dbeam_spark.sources.files import load_table

    got = stream_enrich_dim(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    dim = load_table(spark, SF_DIR, "customer")
    want = (
        ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .orderBy("c_mktsegment", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_nib_sampled_stream_prunes_and_matches_batch(spark):
    """The key-bucketed staging behind the sampled completeness
    audit: (a) the staged union over all 16 nibbles equals the
    source table exactly; (b) a sampled read returns precisely the
    rows whose md5 nibble is in the sample (scan pruning = filter
    semantics); (c) empty-nibble samples stream zero rows without
    crashing (tiny corpora legally leave nibble dirs empty)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from dbeam_spark.queries.streaming import (
        _events_stream_nib_sampled,
        _run_stream,
    )

    ev = load_table(spark, SF_DIR, "events")
    nib = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
    present = {
        r[0] for r in ev.select(nib.alias("n")).distinct().collect()
    }
    absent = sorted(set("0123456789abcdef") - present)
    some = sorted(present)[:2]

    def run(nibbles):
        s = _events_stream_nib_sampled(spark, SF_DIR, tuple(nibbles))
        rows = _run_stream(s.select("event_id"), "append").collect()
        return {r[0] for r in rows}

    got = run(some)
    want = {
        r[0]
        for r in ev.filter(nib.isin(*some)).select("event_id").collect()
    }
    assert got == want and got  # non-empty, exact filter semantics
    # full-sample union round-trips the table
    assert len(run(sorted("0123456789abcdef"))) == ev.count()
    if absent:  # sf0.001's ~15 users leave most nibbles empty
        assert run(absent[:2]) == set()
    # staging is content-keyed and built once: the dir carries _SUCCESS
    # (root = stage_key_buckets' dbeam_<table>_<key>_nib layout; the
    # old dbeam_events_nib glob only passed on stale pre-rename dirs)
    roots = glob.glob(
        os.path.join(tempfile.gettempdir(), "dbeam_events_user_id_nib", "*")
    )
    assert any(
        os.path.isfile(os.path.join(r, "_SUCCESS")) for r in roots
    )


def test_session_window_parquet_ledger_complete(spark):
    """The session ledger's parquet-sink shape (r9: memory sink held
    9.8M rows in the driver heap at 100x) must stay COMPLETE: the
    sentinel filter lives on the batch read of the sink, because a
    pre-sink filter can be pushed below the watermark node, after
    which the sentinel no longer advances the watermark and the last
    sessions are silently never sealed (measured: 11 rows missing at
    sf0.01 when the filter sat inside the streaming plan)."""
    from dbeam_spark.queries.streaming import stream_session_window

    got = stream_session_window(spark, SF_DIR)
    rows = got.collect()
    # no sentinel leakage
    assert all(r.user_id >= 0 for r in rows)
    # exact identity with the batch session_window twin — total events
    # AND session count; a dropped unsealed tail session breaks both
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(
            "user_id", F.session_window("ts", "15 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    b_n, b_ev = batch.agg(
        F.count(F.lit(1)), F.sum("n_events")
    ).collect()[0]
    assert len(rows) == b_n
    assert sum(r.n_events for r in rows) == b_ev


def test_join_completeness_report_matches_batch(spark):
    """The outer-join audit's parquet-sink report (r9: the memory sink
    was the 468s / b=1.32 wall at 100x) must restate the batch LEFT
    JOIN exactly — every unmatched purchase once, no matched row
    twice, after the sentinel rows are dropped."""
    from dbeam_spark.queries.streaming import stream_join_completeness

    row = stream_join_completeness(spark, SF_DIR).collect()[0]
    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("pts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    j = p.join(
        v,
        (F.col("vu") == F.col("u"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("vts") <= F.col("pts")),
        "left_outer",
    )
    exp = j.agg(
        F.count_distinct("pid").alias("n_purchases"),
        F.sum(F.when(F.col("vid").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_match_rows"),
        F.count_distinct(
            F.when(F.col("vid").isNotNull(), F.col("pid"))
        ).alias("n_matched_purchases"),
    ).collect()[0]
    assert row.n_purchases == exp.n_purchases
    assert row.n_match_rows == exp.n_match_rows
    assert row.n_matched_purchases == exp.n_matched_purchases
    assert (
        row.n_unmatched_purchases
        == exp.n_purchases - exp.n_matched_purchases
    )


def test_join_completeness_oracles_report_zeros_on_empty_input():
    """On an empty events table both stream_join_completeness oracles
    report all zeros, like the Spark side: SUM over no rows is NULL
    in DuckDB too, so n_match_rows needs the same COALESCE."""
    import duckdb

    from dbeam_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT, "
        "event_type VARCHAR, ts TIMESTAMP)"
    )
    for name in ("stream_join_completeness", "stream_join_completeness_sampled"):
        assert con.execute(ORACLES[name]).fetchall() == [(0, 0, 0, 0)], name


@pytest.mark.parametrize("sink", ["memory", "parquet", "foreachBatch"])
def test_failed_stream_removes_its_checkpoint_and_sink(
    spark, tmp_path, monkeypatch, sink
):
    """A micro-batch that raises must propagate out of the run, and the
    checkpoint and sink dirs that run created must be gone afterwards,
    for each sink kind the streaming queries use: the memory sink
    (_run_stream), a parquet sink (_session_rows_via_parquet) and a
    foreachBatch ledger (windowed_late_metrics)."""
    import os
    import tempfile
    from datetime import datetime

    from pyspark.errors import StreamingQueryException

    from dbeam_spark.queries import streaming as st

    schema = "user_id long, ts timestamp"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, datetime(2024, 1, 1))], schema).write.parquet(
        src
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .filter(F.raise_error(F.lit("planted failure")).isNull())
    )
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    with pytest.raises(StreamingQueryException, match="planted failure"):
        if sink == "memory":
            st._run_stream(stream, "append")
        elif sink == "parquet":
            st._session_rows_via_parquet(
                spark,
                stream.select(
                    "user_id",
                    F.struct(F.col("ts").alias("start")).alias("w"),
                    F.lit(1).cast("long").alias("n_events"),
                ),
                "failing",
            )
        else:
            st.windowed_late_metrics(stream, "failing")
    assert os.listdir(scratch) == []
