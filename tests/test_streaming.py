"""Streaming-semantics tests (FIXTURES.md F-E): latest-wins dedup with
TTL and out-of-order drops, malformed-row filtering, stream-static
enrichment, watermarked windowed counts, and checkpointed
exactly-once resume — all driven by file/memory sources so no Kafka is
needed.
"""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_data_lake_spark.schemas import STATE_VECTOR_SCHEMA
from big_data_data_lake_spark.sources.catalog import load_table
from big_data_data_lake_spark.streaming import (
    bronze_to_silver,
    latest_wins_dedup,
    micro_batch_writer,
    parse_state_vectors,
    windowed_counts,
)


def _sv(icao, last_contact, lon=1.0, lat=2.0, country="X"):
    """A full 17-element positional state vector (wire format)."""
    return [
        icao, "CS1 ", country, last_contact - 1, last_contact,
        lon, lat, 1000.0, False, 100.0, 90.0, 1.0, None, 1010.0,
        "7700", False, 0,
    ]


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="bddl_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream_to_memory(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_parse_state_vectors_filters_and_types(spark, tmpdir):
    """F8 short-row drop, optional-tail nulls, key normalization."""
    rows = [
        json.dumps(_sv("ABC123", 100)),           # valid, mixed case key
        json.dumps(_sv("def456", 200)[:17]),      # exactly 17 fields
        json.dumps(["short", "row", 1]),          # dropped by F8
        json.dumps(_sv("ghi789", 300) + [5]),     # 18 fields (category)
    ]
    with open(f"{tmpdir}/batch.jsonl", "w") as fh:
        fh.write("\n".join(json.dumps({"value": r}) for r in rows))

    raw = (
        spark.readStream.schema("value string")
        .json(tmpdir)
    )
    parsed = parse_state_vectors(raw)
    out = _run_stream_to_memory(spark, parsed, "parsed_sv").collect()
    assert {r.icao24 for r in out} == {"abc123", "def456", "ghi789"}
    # nullability is advisory in Spark; compare names and types
    assert [(f.name, f.dataType) for f in parsed.schema.fields] == [
        (f.name, f.dataType) for f in STATE_VECTOR_SCHEMA.fields
    ]
    by_key = {r.icao24: r for r in out}
    assert by_key["ghi789"].category == 5
    assert by_key["def456"].category is None
    assert by_key["abc123"].callsign == "CS1"  # trimmed
    assert by_key["abc123"].last_contact == 100


def test_latest_wins_dedup_semantics(spark, tmpdir):
    """FIXTURES F-E #1: newer wins, stale out-of-order drops. (TTL
    eviction is event-time — exercised across checkpointed restarts in
    test_latest_wins_ttl_evicts_on_event_time.)"""
    batches = [
        _sv("aaa", 100),
        _sv("aaa", 150),   # newer -> emit
        _sv("aaa", 120),   # stale  -> drop
        _sv("aaa", 900),   # newer -> emit
        _sv("bbb", 50),    # other key -> emit
    ]
    with open(f"{tmpdir}/b0.jsonl", "w") as fh:
        fh.write("\n".join(json.dumps({"value": json.dumps(b)}) for b in batches))

    raw = spark.readStream.schema("value string").json(tmpdir)
    deduped = latest_wins_dedup(parse_state_vectors(raw), ttl_s=600)
    out = _run_stream_to_memory(spark, deduped, "dedup_sv").collect()
    got = sorted((r.icao24, r.last_contact) for r in out)
    assert got == [("aaa", 100), ("aaa", 150), ("aaa", 900), ("bbb", 50)]


def test_latest_wins_ttl_evicts_on_event_time(spark, tmpdir):
    """T4 as an EVENT-time TTL: eviction and late-drop depend only on
    the data's timestamps (deterministic under replay), not wall-clock.

    ttl=600s, lateness=10s. aaa@1000 sets a timeout at event-time
    1600; once ccc@2000 pushes the watermark to 1990, aaa's state is
    removed (observed via numRowsRemoved). A later stale aaa@900 sits
    behind the watermark and is dropped as late input
    (numRowsDroppedByWatermark) — never re-emitted. State size is
    bounded by the TTL; emission = newer-than-state AND not-late.
    """
    import os

    src, sink, ckpt = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ckpt"
    os.makedirs(src)

    def run_batch(fname, *svs):
        with open(f"{src}/{fname}", "w") as fh:
            fh.write("\n".join(json.dumps({"value": json.dumps(s)}) for s in svs))
        raw = spark.readStream.schema("value string").json(src)
        q = micro_batch_writer(
            latest_wins_dedup(parse_state_vectors(raw), ttl_s=600),
            sink, ckpt, available_now=True,
        )
        q.awaitTermination(120)
        removed = dropped = 0
        total = None
        for p in q.recentProgress:
            for so in p["stateOperators"]:
                removed += so.get("numRowsRemoved", 0)
                dropped += so.get("numRowsDroppedByWatermark", 0)
                total = so.get("numRowsTotal", total)
        return removed, dropped, total

    run_batch("b0.jsonl", _sv("aaa", 1000))
    removed, _, total = run_batch("b1.jsonl", _sv("ccc", 2000))
    assert removed == 1 and total == 1          # aaa evicted at wm 1990
    run_batch("b2.jsonl", _sv("ddd", 2500))
    _, dropped, _ = run_batch("b3.jsonl", _sv("aaa", 900))
    assert dropped == 1                          # stale row is late input

    out = spark.read.schema(STATE_VECTOR_SCHEMA).parquet(sink)
    got = sorted((r.icao24, r.last_contact) for r in out.collect())
    assert got == [("aaa", 1000), ("ccc", 2000), ("ddd", 2500)]


def test_bronze_to_silver_enrichment(spark, tmpdir):
    """E2: stream-static broadcast join + Unknown fill + first-match
    on a duplicate-key dimension (J2)."""
    meta = spark.createDataFrame(
        [(" AAA ", "A320"), ("aaa", "B737"), ("ccc", "E190")],
        ["icao24", "model"],
    )
    rows = [_sv("aaa", 100), _sv("zzz", 200)]
    with open(f"{tmpdir}/b0.jsonl", "w") as fh:
        fh.write("\n".join(json.dumps({"value": json.dumps(r)}) for r in rows))
    raw = spark.readStream.schema("value string").json(tmpdir)
    silver = bronze_to_silver(parse_state_vectors(raw), meta)
    out = {r.icao24: r.model for r in _run_stream_to_memory(spark, silver, "silver_sv").collect()}
    assert out["zzz"] == "Unknown"
    assert out["aaa"] in {"A320", "B737"}  # one deterministic survivor


def test_windowed_counts_match_batch(spark, tmpdir):
    """T8: streaming tumbling-hour counts == batch groupBy(window)."""
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    # Append mode only emits a window once the watermark passes it, so
    # the stream gets one sentinel event 2 h past the end to flush the
    # real windows; the sentinel's own window stays in state.
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        events.limit(1)
        .withColumn("ts", F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 2 HOURS"))
        .withColumn("event_type", F.lit("__sentinel__"))
    )
    events.unionByName(sentinel).write.mode("overwrite").parquet(f"{tmpdir}/ev")
    stream = spark.readStream.schema(events.schema).parquet(f"{tmpdir}/ev")
    streamed = _run_stream_to_memory(
        spark, windowed_counts(stream, "ts", "1 hour", "10 minutes", ("event_type",)), "win_counts"
    )
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    got = sorted(t for t in map(tuple, streamed.collect()) if t[1] != "__sentinel__")
    assert got == sorted(map(tuple, batch.collect()))


def test_checkpoint_resume_exactly_once(spark, tmpdir):
    """T5/T6: stop between micro-batches, add data, restart from the
    checkpoint — no loss, no duplicates (the reference's text-file
    high-water-mark could replay a partially written file)."""
    src, sink, ckpt = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ckpt"
    import os

    os.makedirs(src)
    with open(f"{src}/b0.jsonl", "w") as fh:
        fh.write(json.dumps({"value": json.dumps(_sv("aaa", 100))}))

    def run_once():
        raw = spark.readStream.schema("value string").json(src)
        q = micro_batch_writer(
            parse_state_vectors(raw), sink, ckpt, available_now=True
        )
        q.awaitTermination(120)

    run_once()
    with open(f"{src}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"value": json.dumps(_sv("bbb", 200))}))
    run_once()

    out = spark.read.schema(STATE_VECTOR_SCHEMA).parquet(sink)
    got = sorted((r.icao24, r.last_contact) for r in out.collect())
    assert got == [("aaa", 100), ("bbb", 200)]


def test_lake_table_sink_commits_batch_aligned_versions(spark, tmpdir):
    """Each micro-batch = one atomic manifest commit; restart with the
    same checkpoint must not duplicate data (idempotent replay)."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_table_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/a.jsonl", "w") as fh:
        for i in range(5):
            fh.write(json.dumps({"id": i, "day": "2024-01-01"}) + "\n")

    schema = "id long, day string"
    stream = spark.readStream.schema(schema).json(src)
    q = lake_table_sink(
        stream, f"{tmpdir}/table", f"{tmpdir}/ckpt",
        partition_by=["day"], available_now=True,
    )
    q.awaitTermination(120)

    table = LakeTable(spark, f"{tmpdir}/table")
    assert table.row_count() == 5
    assert "batch_id" in table.manifest()
    v_before = table.latest_version()

    # restart with the same checkpoint and no new data: no new commits
    stream2 = spark.readStream.schema(schema).json(src)
    q2 = lake_table_sink(
        stream2, f"{tmpdir}/table", f"{tmpdir}/ckpt",
        partition_by=["day"], available_now=True,
    )
    q2.awaitTermination(120)
    assert table.latest_version() == v_before
    assert table.row_count() == 5

    # new file → exactly one more version with exactly the new rows
    with open(f"{src}/b.jsonl", "w") as fh:
        fh.write(json.dumps({"id": 99, "day": "2024-01-02"}) + "\n")
    stream3 = spark.readStream.schema(schema).json(src)
    q3 = lake_table_sink(
        stream3, f"{tmpdir}/table", f"{tmpdir}/ckpt",
        partition_by=["day"], available_now=True,
    )
    q3.awaitTermination(120)
    assert table.row_count() == 6
    assert sorted(r.id for r in table.read().collect()) == [0, 1, 2, 3, 4, 99]
    # manifest-side pruning on the new partition
    assert [r.id for r in table.read(partition_filter={"day": "2024-01-02"}).collect()] == [99]


def test_payload_format_detection(spark):
    """consumer.py:161-173 — dict {'states': [...]}, batch
    list-of-vectors, and flat single-vector payloads all normalize to
    one row per state; junk payloads contribute zero rows."""
    from big_data_data_lake_spark.streaming.ingest import (
        normalize_payloads,
        parse_state_vectors,
    )

    payloads = [
        (json.dumps({"states": [_sv("AAA111", 100), _sv("BBB222", 200)]}),),
        (json.dumps([_sv("CCC333", 300), _sv("DDD444", 400)]),),
        (json.dumps(_sv("EEE555", 500)),),
        ('{"states": null}',),
        ('"garbage"',),
        ('{"other": 1}',),
    ]
    raw = spark.createDataFrame(payloads, "value string")
    parsed = parse_state_vectors(normalize_payloads(raw))
    got = sorted((r.icao24, r.last_contact) for r in parsed.collect())
    assert got == [
        ("aaa111", 100), ("bbb222", 200), ("ccc333", 300),
        ("ddd444", 400), ("eee555", 500),
    ]


def _python_vectors(payload: str) -> list:
    """The reference's format detection in Python (consumer.py:161-173):
    the state vectors a payload holds, none when it does not parse."""
    try:
        p = json.loads(payload)
    except ValueError:
        return []
    if isinstance(p, dict):
        return p.get("states") or []
    if isinstance(p, list) and p and isinstance(p[0], list):
        return p
    return [p] if isinstance(p, list) else []


def test_fused_parse_matches_per_vector_reparse(spark):
    """``normalize_payloads`` hands ``parse_state_vectors`` the parsed
    vector: the result equals ``parse_state_vectors`` of each vector
    re-serialized by ``json.dumps``, across number spellings (``1e3``,
    ``-0.0``, a 19-digit integer), literals, a nested ``sensors``
    array, a non-ASCII callsign, a short vector and malformed
    payloads. The optimized plan parses each payload format once and
    never re-serializes a vector, and the JSON-text path parses each
    vector once."""
    from big_data_data_lake_spark.streaming.ingest import (
        normalize_payloads,
        parse_state_vectors,
    )

    odd = _sv("FfF001", 1234567890123456789)
    odd[1], odd[8], odd[12], odd[15] = " ÄØ-Ω7 ", True, [1, 2, 3], None
    text = json.dumps(odd).replace('1000.0', '1e3').replace('90.0', '-0.0')
    assert '1e3' in text and '-0.0' in text
    payloads = [
        json.dumps({"time": 1, "states": [_sv("AAA111", 100), _sv("BBB222", 200)]}),
        json.dumps([_sv("CCC333", 300), _sv("DDD444", 400)]),
        json.dumps(_sv("EEE555", 500)),
        text,
        "[" + text + ", " + json.dumps(_sv("GGG777", 700)) + "]",
        json.dumps({"states": [_sv("HHH888", 800)[:10]]}),  # short: dropped
        json.dumps(_sv("III999", 900) + [3]),  # category present
        '  [false, true, null]  ',
        "[1,2",
        '"garbage"',
        '{"states": null}',
        "",
    ]
    raw = spark.createDataFrame([(p,) for p in payloads], "value string")
    fused = parse_state_vectors(normalize_payloads(raw))
    vectors = [json.dumps(v) for p in payloads for v in _python_vectors(p)]
    reference = parse_state_vectors(spark.createDataFrame([(v,) for v in vectors], "value string"))

    assert fused.schema == reference.schema
    got, want = fused.collect(), reference.collect()
    assert len(want) == 9
    assert sorted(got, key=repr) == sorted(want, key=repr)
    ff = [r for r in got if r.icao24 == "fff001"]
    assert [(r.last_contact, r.callsign, r.baro_altitude_m, r.on_ground) for r in ff] == [
        (1234567890123456789, "ÄØ-Ω7", 1000.0, True)
    ] * 2

    plan = fused._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 3  # dict, batch and flat payloads
    assert "to_json" not in plan.lower() and "StructsToJson" not in plan
    text_plan = reference._jdf.queryExecution().optimizedPlan().toString()
    assert text_plan.count("from_json(") == 1


def test_kafka_source_integration_smoke(spark):
    """S3 end-to-end, env-gated: when the spark-sql-kafka package and a
    broker (KAFKA_SMOKE_BROKER=host:port) are present, run the REAL
    readStream.format('kafka') -> parse_state_vectors path; skip
    cleanly when either is absent (this container ships no kafka jar).
    The plan shape itself is covered unconditionally by the
    file-source twins above — this closes the last seam with the
    reference's Kafka entry point (consumer.py:52-58) wherever the
    dependency exists."""
    import os

    from big_data_data_lake_spark.streaming.ingest import kafka_source

    broker = os.environ.get("KAFKA_SMOKE_BROKER")
    try:
        src = kafka_source(spark, broker or "localhost:9092", "opensky-smoke")
    except Exception as e:  # missing data source resolves at load()
        pytest.skip(
            "kafka connector unavailable "
            f"({type(e).__name__}) — start Spark with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version> "
            "(see README 'Kafka smoke test')"
        )
    if not broker:
        pytest.skip(
            "kafka connector present but no broker to drive — set "
            "KAFKA_SMOKE_BROKER=host:port (see README 'Kafka smoke test')"
        )

    parsed = parse_state_vectors(src.selectExpr("CAST(value AS STRING) AS value"))
    q = (
        parsed.writeStream.format("memory")
        .queryName("kafka_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [f.name for f in spark.table("kafka_smoke").schema.fields] == [
        f.name for f in STATE_VECTOR_SCHEMA.fields
    ]


def test_interval_join_matches_batch_twin(spark, tmpdir):
    """Stream-stream interval join == the equivalent batch range join:
    positions paired with status messages for the same key within the
    following 120 s. Late/out-of-range rows must NOT match."""
    from big_data_data_lake_spark.streaming import interval_join

    base = 1_700_000_000
    pos_rows = [("aaa", base), ("aaa", base + 600), ("bbb", base + 60)]
    st_rows = [
        ("aaa", base + 30, "ok"),        # joins pos(aaa, base)
        ("aaa", base + 650, "warn"),     # joins pos(aaa, base+600)
        ("aaa", base + 400, "stale"),    # in no pos window
        ("bbb", base + 61, "ok"),        # joins pos(bbb, base+60)
        ("ccc", base + 10, "orphan"),    # no such key
    ]
    pos = spark.createDataFrame(
        [(k, t) for k, t in pos_rows], "icao24 string, ts_s long"
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    st = spark.createDataFrame(
        [(k, t, s) for k, t, s in st_rows], "icao24 string, ts_s long, status string"
    ).withColumn("ts", F.timestamp_seconds("ts_s")).drop("ts_s")
    pos.write.parquet(f"{tmpdir}/pos")
    st.write.parquet(f"{tmpdir}/st")

    lstream = spark.readStream.schema(pos.schema).parquet(f"{tmpdir}/pos")
    rstream = spark.readStream.schema(st.schema).parquet(f"{tmpdir}/st")
    joined = interval_join(
        lstream, rstream, key="icao24", lower_s=0, upper_s=120
    ).select("icao24", "ts", "r_ts", "r_status")
    got = sorted(map(tuple, _run_stream_to_memory(spark, joined, "ivj").collect()))

    batch = (
        pos.alias("l")
        .join(
            st.selectExpr("icao24 AS rk", "ts AS r_ts", "status AS r_status"),
            (F.col("icao24") == F.col("rk"))
            & (F.col("r_ts") >= F.col("ts"))
            & (F.col("r_ts") <= F.col("ts") + F.expr("INTERVAL 120 SECONDS")),
        )
        .select("icao24", "ts", "r_ts", "r_status")
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) == 3


def test_lake_table_sink_expectations_shed_and_audit(spark, tmpdir):
    """Streaming quality gates: violating rows are shed per
    micro-batch (the stream keeps flowing) and every committed
    manifest carries that batch's violation audit."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_table_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/a.jsonl", "w") as fh:
        fh.write(json.dumps({"id": 1, "v": 10.0}) + "\n")
        fh.write(json.dumps({"id": 2, "v": -3.0}) + "\n")  # violates
        fh.write(json.dumps({"id": 3, "v": 7.0}) + "\n")

    stream = spark.readStream.schema("id long, v double").json(src)
    q = lake_table_sink(
        stream, f"{tmpdir}/table", f"{tmpdir}/ckpt",
        available_now=True, expectations={"v_nonneg": "v >= 0"},
    )
    q.awaitTermination(120)

    table = LakeTable(spark, f"{tmpdir}/table")
    assert sorted(r.id for r in table.read().collect()) == [1, 3]
    man = table.manifest()
    assert man["expectations"] == {"mode": "drop", "violations": {"v_nonneg": 1}}
    assert "batch_id" in man  # replay guard still carried alongside


def test_session_windows_match_batch_and_sessionize(spark, tmpdir):
    """Streaming session windows == the batch session_window plan on
    the same data; per-user session counts also agree with the batch
    lag/cumsum sessionization query."""
    from big_data_data_lake_spark.streaming.ingest import session_windowed_counts

    events = load_table(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts")
    # sentinel far past the end flushes all real sessions through the
    # watermark (its own session stays in state)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = events.limit(1).withColumn(
        "ts", F.lit(max_ts).cast("timestamp") + F.expr("INTERVAL 2 DAYS")
    ).withColumn("user_id", F.lit(-1).cast("long"))
    events.unionByName(sentinel).write.mode("overwrite").parquet(f"{tmpdir}/ev")

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(f"{tmpdir}/ev")
    streamed = _run_stream_to_memory(
        spark, session_windowed_counts(stream, gap="30 minutes", keys=("user_id",)), "sess"
    )
    got = sorted(t for t in map(tuple, streamed.collect()) if t[2] != -1)

    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), F.col("w.end").alias("e"), "user_id", "n")
    )
    assert got == sorted(map(tuple, batch.collect()))

    # session COUNTS agree with the lag/cumsum batch sessionization
    from big_data_data_lake_spark.queries import load_all

    per_user = {}
    for s, e, uid, n in got:
        per_user[uid] = per_user.get(uid, 0) + 1
    sess = {
        r.user_id: r.n_sessions
        for r in load_all()["sessionize_events"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert per_user == sess


def test_lake_upsert_sink_latest_wins_and_replay_safe(spark, tmpdir):
    """E2's foreachBatch-MERGE: late keys update IN PLACE (no duplicate
    rows), stale rows never clobber newer stored rows, and a replayed /
    restarted stream does not double-apply any batch."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_upsert_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/b0.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a", "ts": 100, "v": "a0"}) + "\n")
        fh.write(json.dumps({"k": "a", "ts": 150, "v": "a1"}) + "\n")  # in-batch winner
        fh.write(json.dumps({"k": "b", "ts": 100, "v": "b0"}) + "\n")

    schema = "k string, ts long, v string"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = lake_upsert_sink(
            stream,
            f"{tmpdir}/table",
            f"{tmpdir}/ckpt",
            keys=["k"],
            order_col="ts",
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    table = LakeTable(spark, f"{tmpdir}/table")
    got = sorted((r.k, r.ts, r.v) for r in table.read().collect())
    assert got == [("a", 150, "a1"), ("b", 100, "b0")]

    # newer update for a (must replace in place), stale row for b
    # (must NOT clobber the newer stored row)
    with open(f"{src}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a", "ts": 200, "v": "a2"}) + "\n")
        fh.write(json.dumps({"k": "b", "ts": 50, "v": "b_stale"}) + "\n")
    run_once()
    got = sorted((r.k, r.ts, r.v) for r in table.read().collect())
    assert got == [("a", 200, "a2"), ("b", 100, "b0")]

    # restart with the same checkpoint and NO new data: no new version,
    # no re-applied batch
    v_before = table.latest_version()
    run_once()
    table = LakeTable(spark, f"{tmpdir}/table")
    assert table.latest_version() == v_before
    got = sorted((r.k, r.ts, r.v) for r in table.read().collect())
    assert got == [("a", 200, "a2"), ("b", 100, "b0")]


def test_lake_upsert_sink_null_keys_latest_wins(spark, tmpdir):
    """A NULL key is a key like any other: its first row inserts, a
    newer row replaces it and a stale row never clobbers it. The stale
    check must find the stored NULL-key row, so it reads every file
    when the batch holds a NULL key (footer min/max excludes nulls)
    and joins null-safely."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_upsert_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    table = LakeTable(spark, f"{tmpdir}/table")

    def run_batch(i, rows):
        with open(f"{src}/b{i}.jsonl", "w") as fh:
            fh.writelines(json.dumps({"k": k, "ts": ts}) + "\n" for k, ts in rows)
        stream = spark.readStream.schema("k string, ts long").json(src)
        lake_upsert_sink(
            stream, table.path, f"{tmpdir}/ckpt", keys=["k"], order_col="ts",
            available_now=True,
        ).awaitTermination(120)
        return sorted(
            ((r.k, r.ts) for r in table.read().collect()), key=lambda p: (p[0] is None, p)
        )

    assert run_batch(0, [("a", 100)]) == [("a", 100)]
    assert run_batch(1, [(None, 100)]) == [("a", 100), (None, 100)]
    assert table.latest_version() == 1
    assert run_batch(2, [(None, 200), ("a", 50)]) == [("a", 100), (None, 200)]
    assert run_batch(3, [(None, 150), ("b", 1)]) == [("a", 100), ("b", 1), (None, 200)]


def test_lake_upsert_sink_all_stale_batch_leaves_no_trace(spark, tmpdir):
    """A batch whose rows all lose to the stored rows (older, tied, and
    a NULL order against a stored non-NULL one) commits no version,
    and the files the MERGE wrote before it saw that no batch row won
    are deleted: no parquet file outside the manifest remains."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_upsert_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    table = LakeTable(spark, f"{tmpdir}/table")

    def run_batch(i, rows):
        with open(f"{src}/b{i}.jsonl", "w") as fh:
            fh.writelines(json.dumps({"k": k, "ts": ts}) + "\n" for k, ts in rows)
        stream = spark.readStream.schema("k string, ts long").json(src)
        lake_upsert_sink(
            stream, table.path, f"{tmpdir}/ckpt", keys=["k"], order_col="ts",
            available_now=True,
        ).awaitTermination(120)
        return sorted((r.k, r.ts) for r in table.read().collect())

    stored = [("a", 100), ("b", 100), ("c", 100)]
    assert run_batch(0, stored) == stored
    assert run_batch(1, [("a", 50), ("b", 100), ("c", None)]) == stored
    assert table.versions() == [0]
    assert table._list_parquet() == {f["path"] for f in table.manifest()["files"]}


def _run_jobs(spark, query) -> tuple[int, int]:
    """Spark jobs one streaming run started, and the stages of those
    jobs (skipped ones included), from the live status store
    (streaming jobs carry their query's run id as job group)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    run_id = str(query.runId)
    ours = [jobs.apply(i) for i in range(jobs.size())]
    ours = [j for j in ours if j.jobGroup().isDefined() and j.jobGroup().get() == run_id]
    return len(ours), sum(j.stageIds().size() for j in ours)


# (jobs, stages) of a sink's first and second commit, skipped stages
# included, measured on Spark 4.1 (local[4], AQE on). A keyed MERGE
# sink's first commit merges into an empty snapshot: one shuffle of the
# batch, whose map stage AQE runs as a job of its own. A gated table
# sink counts its rule violations on the write itself.
BUDGET = {
    "table": ((1, 1), (1, 1)),
    "table_gated": ((1, 1), (1, 1)),
    "upsert": ((2, 3), (5, 7)),
    "aggregate": ((2, 3), (5, 7)),
    "scd2": ((2, 3), (5, 9)),
}


@pytest.mark.parametrize("kind", BUDGET)
def test_lake_sink_job_budget_per_commit(spark, tmpdir, kind):
    """Jobs and stages of a sink's first and second commit: a
    regression guard for the persisted batch and the one-pass MERGE (an
    upsert commit ran 17 jobs when every action re-derived the batch
    and the stale check read the stored rows a second time), and for
    the one MERGE call that also creates the table."""
    import os

    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"
    os.makedirs(src)
    start = _replay_sink(kind)
    batches = [
        [{"k": f"k{i:03d}", "ts": "2024-01-01 00:00:00"} for i in range(200)],
        # newer, older and new keys
        [{"k": f"k{i:03d}", "ts": f"2024-01-0{1 + i % 3} 00:00:00"} for i in range(0, 300, 2)],
    ]
    got = []
    for i, rows in enumerate(batches):
        with open(f"{src}/b{i}.jsonl", "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        stream = spark.readStream.schema("k string, ts timestamp").json(src)
        query = start(stream, f"{tmpdir}/table", ckpt)
        query.awaitTermination(120)
        got.append(_run_jobs(spark, query))
    for (jobs, stages), (job_budget, stage_budget) in zip(got, BUDGET[kind]):
        assert jobs <= job_budget and stages <= stage_budget, (got, BUDGET[kind])


@pytest.mark.parametrize("kind", BUDGET)
def test_lake_sink_reads_one_manifest_per_commit(spark, tmpdir, monkeypatch, kind):
    """A non-first sink commit loads the table's latest manifest once:
    the snapshot its mutator reads, which also holds the ``batch_id``
    the replay check compares against."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable

    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"
    os.makedirs(src)
    start = _replay_sink(kind)
    calls = []
    manifest = LakeTable.manifest
    monkeypatch.setattr(
        LakeTable, "manifest", lambda self, *a, **kw: calls.append(a) or manifest(self, *a, **kw)
    )
    for i in range(2):
        calls.clear()
        with open(f"{src}/b{i}.jsonl", "w") as fh:
            fh.write(json.dumps({"k": f"k{i}", "ts": "2024-01-01 00:00:00"}) + "\n")
        stream = spark.readStream.schema("k string, ts timestamp").json(src)
        start(stream, f"{tmpdir}/table", ckpt).awaitTermination(120)
    assert len(calls) == 1, calls
    assert LakeTable(spark, f"{tmpdir}/table").versions() == [0, 1]


def _replay_sink(kind):
    """Starter ``(stream, table_path, checkpoint) -> query`` of one
    single-table LakeTable sink, for the replay-guard test."""
    from big_data_data_lake_spark.streaming import ingest

    return {
        "table": lambda s, t, c: ingest.lake_table_sink(s, t, c, available_now=True),
        "table_gated": lambda s, t, c: ingest.lake_table_sink(
            s, t, c, available_now=True, expectations={"k_set": "k IS NOT NULL"}
        ),
        "upsert": lambda s, t, c: ingest.lake_upsert_sink(
            s, t, c, keys=["k"], order_col="ts", available_now=True
        ),
        "aggregate": lambda s, t, c: ingest.lake_aggregate_sink(
            s, t, c, key_cols=["k"], available_now=True
        ),
        "scd2": lambda s, t, c: ingest.lake_scd2_sink(
            s, t, c, keys=["k"], change_ts="ts", available_now=True
        ),
    }[kind]


@pytest.mark.parametrize("kind", ["table", "upsert", "aggregate", "scd2"])
def test_lake_sink_skips_a_rerun_batch(spark, tmpdir, kind):
    """The exactly-once guard itself: a batch that committed to the
    table but not to the checkpoint re-runs after a restart with the
    same batch id, and must be skipped. Deleting the checkpoint's
    commit record of batch 1 makes Spark re-run batch 1 on restart."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable

    src, ckpt = f"{tmpdir}/src", f"{tmpdir}/ckpt"
    os.makedirs(src)
    table = LakeTable(spark, f"{tmpdir}/table")
    start = _replay_sink(kind)

    def run_once():
        stream = spark.readStream.schema("k string, ts timestamp").json(src)
        start(stream, table.path, ckpt).awaitTermination(120)

    batches = [
        [("a", "2024-01-01 00:00:00"), ("b", "2024-01-01 00:00:00")],
        # the NULL order value keeps the upsert sink's stale check from
        # hiding a missing guard: a stored NULL order counts as older
        [("a", "2024-02-01 00:00:00"), ("c", None)],
    ]
    for i, rows in enumerate(batches):
        with open(f"{src}/b{i}.jsonl", "w") as fh:
            fh.writelines(json.dumps({"k": k, "ts": ts}) + "\n" for k, ts in rows)
        run_once()
    assert table.manifest()["batch_id"] == 1
    v_before = table.latest_version()
    rows_before = sorted(map(repr, table.read().collect()))

    os.remove(f"{ckpt}/commits/1")
    os.remove(f"{ckpt}/commits/.1.crc")
    run_once()
    assert os.path.exists(f"{ckpt}/commits/1")  # batch 1 ran again
    assert table.latest_version() == v_before
    assert sorted(map(repr, table.read().collect())) == rows_before


def test_lake_aggregate_sink_accumulates_and_replay_safe(spark, tmpdir):
    """Streaming materialized view: per-key counts ADD across batches
    (never replace), and a replayed / restarted stream does not
    double-count any batch."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_aggregate_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/b0.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a"}) + "\n")
        fh.write(json.dumps({"k": "a"}) + "\n")
        fh.write(json.dumps({"k": "b"}) + "\n")

    schema = "k string"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = lake_aggregate_sink(
            stream,
            f"{tmpdir}/table",
            f"{tmpdir}/ckpt",
            key_cols=["k"],
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    table = LakeTable(spark, f"{tmpdir}/table")
    got = sorted((r.k, r.n) for r in table.read().collect())
    assert got == [("a", 2), ("b", 1)]

    # second batch: existing key accumulates, new key appears
    with open(f"{src}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a"}) + "\n")
        fh.write(json.dumps({"k": "c"}) + "\n")
    run_once()
    got = sorted((r.k, r.n) for r in table.read().collect())
    assert got == [("a", 3), ("b", 1), ("c", 1)]

    # restart with the same checkpoint and NO new data: no new version,
    # counts unchanged (no double-apply)
    v_before = table.latest_version()
    run_once()
    table = LakeTable(spark, f"{tmpdir}/table")
    assert table.latest_version() == v_before
    got = sorted((r.k, r.n) for r in table.read().collect())
    assert got == [("a", 3), ("b", 1), ("c", 1)]


def test_lake_aggregate_sink_null_keys_accumulate(spark, tmpdir):
    """A NULL group key must ACCUMULATE like any other key, not
    re-insert as a fresh row each batch: plain equi joins (semi fetch
    + upsert anti-join) never match NULL = NULL, so without null-safe
    handling the null-key count silently diverges."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_aggregate_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/b0.jsonl", "w") as fh:
        fh.write(json.dumps({"k": None}) + "\n")
        fh.write(json.dumps({"k": "a"}) + "\n")

    def run_once():
        stream = spark.readStream.schema("k string").json(src)
        q = lake_aggregate_sink(
            stream,
            f"{tmpdir}/table",
            f"{tmpdir}/ckpt",
            key_cols=["k"],
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    with open(f"{src}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"k": None}) + "\n")
        fh.write(json.dumps({"k": None}) + "\n")
        fh.write(json.dumps({"k": "a"}) + "\n")
    run_once()
    table = LakeTable(spark, f"{tmpdir}/table")
    rows = table.read().collect()
    got = sorted(
        ((r.k, r.n) for r in rows), key=lambda t: (t[0] is None, t[0] or "")
    )
    assert got == [("a", 2), (None, 3)]


def test_lake_scd2_sink_historizes_and_replay_safe(spark, tmpdir):
    """Streaming SCD2: each batch closes the stored current row per
    changed key and opens a new version; point-in-time reads work
    mid-stream; a replayed batch never double-closes."""
    import os

    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import lake_scd2_sink

    src = f"{tmpdir}/src"
    os.makedirs(src)
    with open(f"{src}/b0.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a", "tier": "bronze", "ts": "2024-01-01 00:00:00"}) + "\n")
        fh.write(json.dumps({"k": "b", "tier": "silver", "ts": "2024-01-01 00:00:00"}) + "\n")

    schema = "k string, tier string, ts timestamp"

    def run_once():
        stream = spark.readStream.schema(schema).json(src)
        q = lake_scd2_sink(
            stream,
            f"{tmpdir}/dim",
            f"{tmpdir}/ckpt",
            keys=["k"],
            change_ts="ts",
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: a changes twice in one batch (latest wins), c appears
    with open(f"{src}/b1.jsonl", "w") as fh:
        fh.write(json.dumps({"k": "a", "tier": "gold", "ts": "2024-02-01 00:00:00"}) + "\n")
        fh.write(json.dumps({"k": "a", "tier": "platinum", "ts": "2024-03-01 00:00:00"}) + "\n")
        fh.write(json.dumps({"k": "c", "tier": "bronze", "ts": "2024-03-01 00:00:00"}) + "\n")
    run_once()

    table = LakeTable(spark, f"{tmpdir}/dim")
    cur = {r.k: r.tier for r in table.read().where("__is_current").collect()}
    assert cur == {"a": "platinum", "b": "silver", "c": "bronze"}
    # 'a' history: the original bronze row is closed, not destroyed
    a_rows = sorted(
        (r.tier, r["__is_current"]) for r in table.read().where("k = 'a'").collect()
    )
    assert a_rows == [("bronze", False), ("platinum", True)]
    jan = {r.k: r.tier for r in table.read_asof("2024-01-15 00:00:00").collect()}
    assert jan == {"a": "bronze", "b": "silver"}

    # restart with no new data: no new version, no double-close
    v_before = table.latest_version()
    run_once()
    table = LakeTable(spark, f"{tmpdir}/dim")
    assert table.latest_version() == v_before
    assert {r.k: r.tier for r in table.read().where("__is_current").collect()} == cur


def test_interval_join_left_outer_emits_delayed_nulls(spark, tmpdir):
    """Left-outer stream-stream interval join: an unmatched left row
    must surface with NULL right columns — but only after the
    watermark (advanced by a LATER micro-batch on both streams)
    passes its whole match interval, which is when the engine can
    prove no partner is coming."""
    from big_data_data_lake_spark.streaming import interval_join

    base = 1_700_000_000
    pos1 = [("aaa", base), ("bbb", base + 60)]           # bbb never matches
    st1 = [("aaa", base + 30, "ok")]
    flush = base + 100_000                               # advances watermark
    pos2 = [("zzz", flush)]
    st2 = [("zzz", flush, "flush")]

    def write(rows, path, with_status):
        schema = (
            "icao24 string, ts_s long, status string"
            if with_status
            else "icao24 string, ts_s long"
        )
        df = (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.timestamp_seconds("ts_s"))
            .drop("ts_s")
        )
        df.coalesce(1).write.mode("append").parquet(path)

    # two files per side => two micro-batches under maxFilesPerTrigger=1,
    # letting batch 2's data advance the watermark that flushes batch
    # 1's unmatched row
    write(pos1, f"{tmpdir}/pos", False)
    write(pos2, f"{tmpdir}/pos", False)
    write(st1, f"{tmpdir}/st", True)
    write(st2, f"{tmpdir}/st", True)

    schema_l = "icao24 string, ts timestamp"
    schema_r = "icao24 string, status string, ts timestamp"
    lstream = (
        spark.readStream.schema(schema_l)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmpdir}/pos")
    )
    rstream = (
        spark.readStream.schema(schema_r)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmpdir}/st")
    )
    joined = interval_join(
        lstream,
        rstream,
        key="icao24",
        lower_s=0,
        upper_s=120,
        watermark_s=60,
        how="left_outer",
    ).select("icao24", "ts", "r_ts", "r_status")
    got = {
        (r.icao24, r.r_status)
        for r in _run_stream_to_memory(spark, joined, "ivj_outer").collect()
    }
    # aaa matched; bbb emitted with nulls after the flush batch;
    # zzz is the flusher pair
    assert ("aaa", "ok") in got
    assert ("bbb", None) in got, got
    assert ("zzz", "flush") in got


def test_first_wins_dedup_native_operator(spark, tmpdir):
    """The native dropDuplicatesWithinWatermark path: duplicate
    event_ids, in-batch and across micro-batches, must emit exactly
    once (first wins) while the key's state lives; eviction past the
    watermark is the engine's (bounding state, not output)."""
    from big_data_data_lake_spark.streaming import first_wins_dedup

    base = 1_700_000_000
    rows1 = [(1, base), (2, base + 10), (1, base + 20)]       # in-batch dup of 1
    rows2 = [(2, base + 30)]                                  # cross-batch dup of 2
    rows3 = [(1, base + 100_000)]                             # still dropped: state
    # is keyed presence, and the drop happens before end-of-batch
    # eviction even this far past the horizon

    def write(rows, path):
        (
            spark.createDataFrame(rows, "event_id long, ts_s long")
            .withColumn("ts", F.timestamp_seconds("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )

    src = f"{tmpdir}/dedup_src"
    write(rows1, src)
    write(rows2, src)
    write(rows3, src)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = first_wins_dedup(stream, ["event_id"], lateness="5 minutes")
    got = sorted(
        (r.event_id, int(r.ts.timestamp()))
        for r in _run_stream_to_memory(spark, out, "fw_dedup").collect()
    )
    assert got == [(1, base), (2, base + 10)], got


def test_watermark_health_reports_dropped_rows(spark, tmpdir):
    """watermark_health must surface numRowsDroppedByWatermark: a row
    arriving far behind the advanced watermark is silently dropped by
    a stateful operator, and the health dict is where that loss
    becomes visible."""
    from big_data_data_lake_spark.observability import watermark_health
    from big_data_data_lake_spark.streaming.ingest import windowed_counts

    base = 1_700_000_000

    def write(rows, path):
        (
            spark.createDataFrame(rows, "k long, ts_s long")
            .withColumn("ts", F.timestamp_seconds("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )

    import os

    src, sink, ckpt = f"{tmpdir}/wm_src", f"{tmpdir}/wm_sink", f"{tmpdir}/wm_ckpt"
    os.makedirs(src)

    def run(rows):
        write(rows, src)
        stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
        q = micro_batch_writer(
            windowed_counts(stream, watermark="10 minutes"),
            sink,
            ckpt,
            available_now=True,
        )
        q.awaitTermination(120)
        return q

    run([(1, base), (2, base + 7200)])               # run 1 advances wm
    q = run([(3, base - 7200)])                       # run 2: hopeless straggler
    h = watermark_health(q)
    assert h["rows_dropped_by_watermark"] >= 1, h
    assert h["batch_id"] is not None
    assert h["watermark"] is not None


def test_indexed_novelty_sink_matches_batch_twin_across_triggers(spark, tmpdir):
    """r8 verdict item #5: the lake-maintained dedup index driven by
    an ACTUAL streaming query. Three document files arrive as three
    micro-batch triggers (maxFilesPerTrigger=1); each trigger probes
    the index built by the previous triggers, emits novelty verdicts,
    and appends its own signatures — so the stream's output must equal
    a batch replay that probes each day's docs against the union of
    the prior days, and the final index must equal a one-shot
    recomputation over everything ingested."""
    import os

    from pyspark.sql import functions as F2

    from big_data_data_lake_spark.queries.curation import (
        _archive_sig_frames,
        probe_minhash_novelty,
    )
    from big_data_data_lake_spark.queries.llm_ops import _spread, _t
    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming.ingest import indexed_novelty_sink

    docs = _spread(spark, _t(spark, "/root/testdata/sf0.001", "documents")).select(
        "doc_id", "text"
    )
    src = f"{tmpdir}/src"
    os.makedirs(src)
    days = [docs.where(F2.pmod("doc_id", F2.lit(3)) == d) for d in range(3)]
    for d, frame in enumerate(days):
        frame.coalesce(1).write.parquet(f"{tmpdir}/stage{d}")
        part = next(
            f for f in os.listdir(f"{tmpdir}/stage{d}") if f.endswith(".parquet")
        )
        os.rename(f"{tmpdir}/stage{d}/{part}", f"{src}/day{d}.parquet")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = indexed_novelty_sink(
        stream,
        f"{tmpdir}/idx",
        f"{tmpdir}/novelty",
        f"{tmpdir}/ckpt",
        available_now=True,
    )
    q.awaitTermination(300)

    out_t = LakeTable(spark, f"{tmpdir}/novelty")
    sigs_t = LakeTable(spark, f"{tmpdir}/idx/sigs")
    bands_t = LakeTable(spark, f"{tmpdir}/idx/bands")
    # >= 3 triggers committed (one create + >= 2 appends per table)
    assert out_t.latest_version() >= 2
    assert sigs_t.latest_version() >= 2

    # batch replay: day d probes the union of days < d
    want = {}
    for d in range(3):
        sig, _ = _archive_sig_frames(days[d])
        if d == 0:
            for r in days[0].select("doc_id").collect():
                want[r.doc_id] = (0.0, True)
            continue
        archive = days[0] if d == 1 else days[0].unionByName(days[1])
        a_sig, a_bands = _archive_sig_frames(archive)
        nov = probe_minhash_novelty(
            sig,
            a_bands.select(F2.col("doc_id").alias("old_id"), "band", "bkey"),
            a_sig,
        )
        for r in nov.collect():
            want[r.doc_id] = (r.max_est_sim, r.is_novel)

    got = {
        r.doc_id: (r.max_est_sim, r.is_novel)
        for r in out_t.read().collect()
    }
    assert got == want

    # final index == one-shot recomputation over all ingested docs
    want_sig, want_bands = _archive_sig_frames(docs)
    assert sigs_t.read().count() == want_sig.count()
    assert want_sig.exceptAll(sigs_t.read()).count() == 0
    assert want_bands.exceptAll(bands_t.read()).count() == 0
    assert bands_t.read().exceptAll(want_bands).count() == 0
