import datetime as dt

from parallel_betweenness_centrality_using_bsp_spark.streaming.events import (
    EVENTS_SCHEMA,
    run_windowed_counts_once,
    windowed_event_counts,
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def _rows():
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    out = []
    for i in range(20):
        out.append(
            (i, t0 + dt.timedelta(minutes=10 * i), i % 5, "click" if i % 2 else "view", float(i), "{}")
        )
    return out


def test_batch_window_counts(spark):
    df = _events(spark, _rows())
    got = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in windowed_event_counts(df, "1 hour").collect()
    }
    # minutes 0..50 land in hour 0: events 0..5 → 3 view (0,2,4), 3 click (1,3,5)
    assert got[(0, "view")] == 3 and got[(0, "click")] == 3


def test_stream_available_now_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    df = _events(spark, _rows())
    df.write.parquet(src)

    run_windowed_counts_once(spark, src, sink, ckpt, "1 hour")
    got = spark.read.parquet(sink)
    want = windowed_event_counts(df, "1 hour")
    key = lambda r: (r["window_start"], r["event_type"])
    gw = {key(r): (r["n_events"], r["sum_value"]) for r in got.collect()}
    ww = {key(r): (r["n_events"], r["sum_value"]) for r in want.collect()}
    # append mode emits only watermark-closed windows: a strict, correct subset
    assert 0 < len(gw) < len(ww)
    assert all(ww[k] == v for k, v in gw.items())

    # exactly-once: a second availableNow pass with no new files adds nothing
    run_windowed_counts_once(spark, src, sink, ckpt, "1 hour")
    assert spark.read.parquet(sink).count() == len(gw)

    # incremental: append later events -> watermark advances, more windows close
    df2 = _events(
        spark,
        [(100, dt.datetime(2026, 1, 1, 9, 0, 0), 1, "view", 1.0, "{}")],
    )
    df2.write.mode("append").parquet(src)
    run_windowed_counts_once(spark, src, sink, ckpt, "1 hour")
    gw2 = {key(r): (r["n_events"], r["sum_value"]) for r in spark.read.parquet(sink).collect()}
    assert len(gw2) == len(ww)  # all original windows now closed and emitted
    assert all(gw2[k] == v for k, v in ww.items())


def test_stream_sessionization_matches_batch(spark, tmp_path):
    """The stateful applyInPandasWithState sessionizer must emit exactly the
    CLOSED sessions of the window-function batch twin (the open tail session
    per user stays in the state store)."""
    import datetime

    from parallel_betweenness_centrality_using_bsp_spark.streaming.events import EVENTS_SCHEMA
    from parallel_betweenness_centrality_using_bsp_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for u in range(3):
        t = base + datetime.timedelta(minutes=u)
        eid = u * 100
        for _s in range(3):  # 3 sessions of 2 events, 2h apart
            for _k in range(2):
                rows.append((eid, t, u, "click", 1.0, "{}"))
                eid += 1
                t += datetime.timedelta(minutes=1)
            t += datetime.timedelta(hours=2)
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    want_all = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in sessionize_batch(spark.read.parquet(src)).collect()
    }
    last_seq = {}
    for u, seq, *_ in want_all:
        last_seq[u] = max(last_seq.get(u, 0), seq)
    want_closed = {t for t in want_all if t[1] < last_seq[t[0]]}

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got == want_closed


def test_stream_sessionization_flushes_idle_session_on_watermark(spark, tmp_path):
    """An idle user's open session must be EMITTED once the watermark passes
    its idle deadline (last event + gap) — the event-time timeout path.  A
    later event for the same user continues the per-user session numbering."""
    import datetime

    from parallel_betweenness_centrality_using_bsp_spark.streaming.events import EVENTS_SCHEMA
    from parallel_betweenness_centrality_using_bsp_spark.streaming.sessions import sessionize_stream

    base = datetime.datetime(2024, 1, 1)
    us = lambda t: int(t.timestamp() * 1_000_000)
    # file 1: user 1 — two events, then idle forever
    b1 = spark.createDataFrame(
        [(0, base, 1, "click", 1.0, "{}"),
         (1, base + datetime.timedelta(minutes=1), 1, "click", 1.0, "{}")],
        EVENTS_SCHEMA,
    )
    # file 2: user 2 far in the future — advances the watermark past user 1's
    # idle deadline (base + 1min + 30min gap)
    far = base + datetime.timedelta(hours=3)
    b2 = spark.createDataFrame([(2, far, 2, "click", 1.0, "{}")], EVENTS_SCHEMA)
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            sessionize_stream(
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    got = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in spark.read.parquet(sink).collect()
    }
    t0, t1 = us(base), us(base + datetime.timedelta(minutes=1))
    # user 1's idle session flushed; user 2's deadline is beyond the final
    # watermark, so it stays open in the state store
    assert got == {(1, 1, 2, t0, t1)}

    # user 1 returns much later: numbering continues at seq 2 (not 1)
    b3 = spark.createDataFrame(
        [(3, far + datetime.timedelta(hours=3), 1, "click", 1.0, "{}"),
         (4, far + datetime.timedelta(hours=6), 3, "click", 1.0, "{}")],
        EVENTS_SCHEMA,
    )
    b3.coalesce(1).write.mode("append").parquet(src)
    run_once()
    got2 = {
        (r.user_id, r.session_seq)
        for r in spark.read.parquet(sink).collect()
    }
    assert (1, 2) in got2  # resumed numbering after the timeout flush


def test_batch_dedup_keeps_earliest_occurrence(spark):
    """The batch branch must keep the earliest (ts, doc_id) row per
    fingerprint — the stream's first-occurrence semantics."""
    import datetime

    from parallel_betweenness_centrality_using_bsp_spark.streaming.dedup import stream_exact_dedup

    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(5, base + datetime.timedelta(minutes=9), "same doc"),
         (2, base, "same doc"),
         (7, base, "SAME   DOC"),
         (9, base + datetime.timedelta(minutes=1), "other doc")],
        "doc_id long, ts timestamp, text string",
    )
    kept = {r["doc_id"] for r in stream_exact_dedup(df).collect()}
    assert kept == {2, 9}  # doc 2 beats 5 (later ts) and 7 (same ts, higher id)


def test_stream_exact_dedup_emits_first_occurrence_only(spark, tmp_path):
    """Duplicates arriving across micro-batches are dropped by the
    watermarked streaming dedup; exactly one row per fingerprint survives."""
    import datetime

    from parallel_betweenness_centrality_using_bsp_spark.streaming.dedup import stream_exact_dedup

    base = datetime.datetime(2024, 1, 1)
    schema = "doc_id long, ts timestamp, text string"
    b1 = spark.createDataFrame(
        [(0, base, "alpha text"), (1, base, "beta text"), (2, base, "Alpha   TEXT")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, base + datetime.timedelta(minutes=5), "beta text"),
         (4, base + datetime.timedelta(minutes=5), "gamma text")],
        schema,
    )
    src = str(tmp_path / "src")
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    fps = [r["fp"] for r in rows]
    assert len(fps) == len(set(fps)) == 3  # alpha (normalized dup dropped), beta, gamma
    texts = {r["text"] for r in rows}
    assert "gamma text" in texts and len({t.lower().split()[0] for t in texts}) == 3


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static join: every streamed event is enriched against the
    static dimension (broadcast), unknown keys flow through with nulls,
    and the output matches the batch form of the same transform."""
    import datetime

    from parallel_betweenness_centrality_using_bsp_spark.streaming.enrich import enrich_events
    from parallel_betweenness_centrality_using_bsp_spark.streaming.events import EVENTS_SCHEMA

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(minutes=i), i % 4, "click", 1.0, "{}")
            for i in range(12)]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")],  # user 3 missing on purpose
        "user_id long, tier string",
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    key = lambda r: (r["event_id"], r["tier"])
    want = {key(r) for r in enrich_events(df, dim).collect()}

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        enrich_events(stream, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {key(r) for r in spark.sql("SELECT * FROM enriched").collect()}
    assert got == want
    assert any(t is None for _, t in got)  # user 3's events kept with null tier


def test_repetition_cols_match_batch_operator(spark):
    """The streaming-safe per-row repetition expressions equal the
    aggregation-based repetition_stats on every document."""
    from pyspark.sql import functions as F

    from parallel_betweenness_centrality_using_bsp_spark.operators.features import repetition_stats
    from parallel_betweenness_centrality_using_bsp_spark.streaming.curation import repetition_cols

    df = spark.createDataFrame(
        [(0, "a b a b a"), (1, "u v w x"), (2, "z z z z z z"),
         (3, "one two three one two three one"), (4, "solo")],
        "doc_id long, text string",
    )
    cols = repetition_cols(F.col("text"))
    row_form = {
        r["doc_id"]: (r["n"], r["dr"], r["tb"], r["dt"])
        for r in df.withColumn("_t", cols["_t"]).select(
            "doc_id",
            cols["n_tokens"].alias("n"),
            cols["distinct_ratio"].alias("dr"),
            cols["top_bigram_frac"].alias("tb"),
            cols["dup_trigram_frac"].alias("dt"),
        ).collect()
    }
    agg_form = {
        r["doc_id"]: (r["n_tokens"], r["distinct_ratio"],
                      r["top_bigram_frac"], r["dup_trigram_frac"])
        for r in repetition_stats(df).collect()
    }
    assert set(row_form) == set(agg_form)
    for d in agg_form:
        for a, b in zip(row_form[d], agg_form[d]):
            assert abs(a - b) < 1e-12, (d, row_form[d], agg_form[d])


def test_stream_curation_matches_batch_pipeline(spark, tmp_path):
    """curate_stream over micro-batched files == the batch filters +
    earliest-occurrence dedup on the same rows (same survivors)."""
    import datetime

    from pyspark.sql import functions as F

    from parallel_betweenness_centrality_using_bsp_spark.streaming.curation import curate_stream

    base = datetime.datetime(2024, 1, 1)
    good = ("the project is large and the code is good and the tests pass "
            "and it works for all of the cases")
    rows = [
        (0, base, good),                                   # passes everything
        (1, base + datetime.timedelta(minutes=1), good),   # exact dup of 0 -> dropped
        (2, base + datetime.timedelta(minutes=2), "spam spam spam spam spam spam spam spam spam spam"),  # repetition fail
        (3, base + datetime.timedelta(minutes=3), "der die das und ist nicht ein zu der die das und ist"),  # lang fail
        (4, base + datetime.timedelta(minutes=4),
         good + " plus it is of note that the extra words are here too"),  # passes
    ]
    schema = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.mode("append").parquet(src)

    batch = curate_stream(spark.createDataFrame(rows, schema))
    want = sorted(r["doc_id"] for r in batch.collect())
    assert want == [0, 4]  # sanity: filters bind, dup dropped

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        curate_stream(stream)
        .writeStream.format("memory")
        .queryName("curation_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM curation_out").collect())
    assert got == want


def _edge_rows():
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    # hour 0: vertex 7 is hot (appears in 5 edges); hour 2 closes hour-0's
    # window under a 1-hour watermark
    for i in range(5):
        rows.append((7, 100 + i, base + dt.timedelta(minutes=5 * i)))
    rows.append((1, 2, base + dt.timedelta(minutes=30)))
    rows.append((3, 7, base + dt.timedelta(hours=2, minutes=5)))
    return rows


def test_batch_windowed_degrees_and_hot_vertices(spark):
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import (
        hot_vertices,
        windowed_degrees,
    )

    df = spark.createDataFrame(_edge_rows(), "src long, dst long, ts timestamp")
    got = {
        (r["window_start"].hour, r["vertex"]): r["degree"]
        for r in windowed_degrees(df, "1 hour").collect()
    }
    assert got[(0, 7)] == 5  # both-endpoint convention
    assert got[(0, 1)] == 1 and got[(0, 2)] == 1
    assert got[(2, 7)] == 1
    hot = {(r["window_start"].hour, r["vertex"]) for r in hot_vertices(df, 3, "1 hour").collect()}
    assert hot == {(0, 7)}


def test_stream_hot_vertices_matches_batch(spark, tmp_path):
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import (
        hot_vertices,
        run_hot_vertices_once,
    )

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    df = spark.createDataFrame(_edge_rows(), "src long, dst long, ts timestamp")
    df.write.parquet(src)

    run_hot_vertices_once(spark, src, sink, ckpt, threshold=3, window="1 hour")
    got = {
        (r["window_start"], r["vertex"]): r["degree"]
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r["window_start"], r["vertex"]): r["degree"]
        for r in hot_vertices(df, 3, "1 hour").collect()
    }
    # append mode emits watermark-closed windows; the hour-2 edge closes
    # hour 0, so the hot row IS emitted and matches the batch twin
    assert got and all(want[k] == v for k, v in got.items())
    assert (next(iter(got))[0].hour, next(iter(got))[0].minute) == (0, 0)

    # exactly-once on re-run with no new input
    run_hot_vertices_once(spark, src, sink, ckpt, threshold=3, window="1 hour")
    assert spark.read.parquet(sink).count() == len(got)


def test_stream_triangle_maintenance_matches_cold(spark, tmp_path):
    """The foreachBatch maintenance loop — micro-batches of crawled edges
    folded in via incremental_triangles — must land on exactly the cold
    count of the full edge set, across multiple triggers."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.triangles import triangle_count
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import (
        run_triangle_maintenance_once,
    )
    from tests.oracles import er_graph

    edges = er_graph(n=80, p=0.1, seed=31)
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    third = len(edges) // 3
    for part in (edges[:third], edges[third : 2 * third], edges[2 * third :]):
        edge_df(spark, part).coalesce(1).write.mode("append").parquet(src)

    total = run_triangle_maintenance_once(
        spark, src, state, ckpt, max_files_per_trigger=1
    )
    cold = triangle_count(spark, edge_df(spark, edges))
    assert total == cold

    # exactly-once: a second pass with no new files changes nothing
    total2 = run_triangle_maintenance_once(spark, src, state, ckpt)
    assert total2 == cold


def test_stream_component_maintenance_matches_cold(spark, tmp_path):
    """The label table maintained by foreachBatch over incremental_components
    must equal the cold hash-min run over every edge seen, across triggers."""
    from parallel_betweenness_centrality_using_bsp_spark.operators.components import (
        connected_components,
    )
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import (
        run_component_maintenance_once,
    )
    from tests.oracles import er_graph

    edges = er_graph(n=90, p=0.03, seed=13)
    src, state, ckpt = (str(tmp_path / d) for d in ("srcc", "statec", "ckptc"))
    third = len(edges) // 3
    for part in (edges[:third], edges[third : 2 * third], edges[2 * third :]):
        edge_df(spark, part).coalesce(1).write.mode("append").parquet(src)

    got = run_component_maintenance_once(
        spark, src, state, ckpt, max_files_per_trigger=1
    )
    want = connected_components(spark, edge_df(spark, edges)).state
    g = {r["vertex"]: r["label"] for r in got.collect()}
    w = {r["vertex"]: r["label"] for r in want.select("vertex", "label").collect()}
    assert g == w


def test_streaming_pagerank_maintenance_matches_cold(spark, tmp_path):
    from parallel_betweenness_centrality_using_bsp_spark.operators.pagerank import pagerank
    from parallel_betweenness_centrality_using_bsp_spark.sources.graphs import edge_df
    from parallel_betweenness_centrality_using_bsp_spark.streaming.graph import (
        run_pagerank_maintenance_once,
    )
    from tests.oracles import er_graph

    edges = er_graph(n=80, p=0.05, seed=23)
    src, state, ckpt = (str(tmp_path / d) for d in ("srcp", "statep", "ckptp"))
    third = len(edges) // 3
    for part in (edges[:third], edges[third : 2 * third], edges[2 * third :]):
        edge_df(spark, part).coalesce(1).write.mode("append").parquet(src)

    got = run_pagerank_maintenance_once(
        spark, src, state, ckpt, max_files_per_trigger=1, tol=1e-12
    )
    want = pagerank(
        spark, edge_df(spark, edges), tol=1e-12, max_supersteps=100
    ).state
    g = {r["vertex"]: r["pr"] for r in got.collect()}
    w = {r["vertex"]: r["pr"] for r in want.collect()}
    assert set(g) == set(w)
    for v, pr in w.items():
        assert abs(g[v] - pr) < 1e-8, v
    # the running vector is a probability distribution after every fold
    assert abs(sum(g.values()) - 1.0) < 1e-9
