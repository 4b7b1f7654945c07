"""Structured Streaming ingest — the reference's producer/consumer/
silver services (SURVEY §2.7, §3 E1/E2) as a handful of composable
streaming stages:

    kafka_source → [normalize_payloads →] parse_state_vectors
        → latest_wins_dedup
        → bronze_to_silver (stream-static broadcast join)
        → micro_batch_writer (60 s trigger, checkpointed)

Each payload is parsed once: ``normalize_payloads`` detects the
payload format and emits the parsed vectors, and
``parse_state_vectors`` maps a parsed vector to columns without a
second ``from_json`` (it parses only a JSON-text input, such as a bare
Kafka ``value``).

The reference's hand-rolled loops become engine guarantees: its
at-least-once buffer/flush (consumer.py:102-139) and text-file
high-water-mark (process_silver.py:14-26) are replaced by checkpointed
exactly-once; its wall-clock dedup TTL (producer.py:26,84-86) becomes
an event-time TTL, deterministic under replay.

The LakeTable sinks (``lake_table_sink``, ``lake_upsert_sink``,
``lake_aggregate_sink``, ``lake_scd2_sink``, ``indexed_novelty_sink``)
are exactly-once by one rule of the table itself: each commit passes
its micro-batch id as ``extra={"batch_id": ...}``, the manifest records
it, and ``LakeTable._commit_files`` commits nothing for an id at or
below the one the table last recorded (a batch that committed before
its checkpoint did re-runs after a restart with the same id). Each
sink supplies only its write call; ``_lake_sink`` is their one
checkpointed ``foreachBatch`` writer. The append sinks create the
table on their first batch. The upsert, aggregate and SCD2 sinks hand
every micro-batch, the first one included, to one keyed LakeTable
MERGE as it is: the MERGE reduces the batch's rows per key itself and
creates the table on a path that has none.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import STATE_VECTOR_SCHEMA

DEDUP_TTL_S = 600  # producer.py:26
FLUSH_TRIGGER_S = 60  # consumer.py:22


def kafka_source(
    spark: SparkSession,
    servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S3 — Kafka source (consumer.py:52-58): earliest reset and group
    semantics come from the checkpoint, upgraded to exactly-once (T6).

    Requires the spark-sql-kafka package on the classpath; this
    container doesn't ship it, so construction is lazy and the rest of
    the pipeline is tested against file/memory sources instead.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def normalize_payloads(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """Format detection (consumer.py:161-173): a payload may be a dict
    ``{"states": [[...], ...]}``, a batch list-of-vectors, or one flat
    vector. Emit one row per state vector, with ``payload_col`` holding
    the parsed vector as ``array<string>``, which ``parse_state_vectors``
    maps to columns without parsing it again.

    The reference's ``isinstance`` chain becomes prefix dispatch on the
    serialized form: all three branches are one codegen'd expression
    that references each format's ``from_json`` once, so a payload is
    parsed exactly once. Non-matching or malformed payloads yield zero
    rows (its ``continue``).
    """
    s = F.trim(F.col(payload_col).cast("string"))
    empty = F.array().cast("array<array<string>>")
    is_nested = s.rlike(r"^\[\s*\[")
    as_dict = F.from_json(s, "struct<states: array<array<string>>>")
    as_nested = F.from_json(s, "array<array<string>>")
    as_flat = F.from_json(s, "array<string>")
    vectors = (
        F.when(s.startswith("{"), F.coalesce(as_dict["states"], empty))
        .when(is_nested, F.coalesce(as_nested, empty))
        .when(s.startswith("["), F.array(as_flat))
        .otherwise(empty)
    )
    # drops NULL vectors, among them a malformed flat payload's parse
    out = raw.withColumn("__vec", F.explode(vectors)).where(F.col("__vec").isNotNull())
    return out.withColumn(payload_col, F.col("__vec")).drop("__vec")


def parse_state_vectors(raw: DataFrame, payload_col: str = "value") -> DataFrame:
    """P1+F8 — raw JSON array payload → typed named columns
    (consumer.py:66-100,161-173).

    The wire format is the positional 17-18 element array; rows
    shorter than 17 are dropped (F8), optional tail fields null out,
    and every field is cast to the canonical schema (schemas.py) —
    ending the reference's per-zone schema drift.

    ``payload_col`` is the JSON text (a Kafka ``value``, cast to
    string) or an already-parsed ``array<string>`` vector, as
    ``normalize_payloads`` emits; the latter is used as is. JSON text
    is parsed once per row: predicate pushdown would copy a projected
    ``from_json`` into the length filter, so the parse sits in a
    one-element ``explode``, a Generate the filter cannot move below.
    """
    sv = F.col(payload_col)
    if raw.schema[payload_col].dataType.simpleString() != "array<string>":
        sv = F.explode(F.array(F.from_json(sv.cast("string"), "array<string>")))
    parsed = raw.select(sv.alias("__sv")).where(F.size("__sv") >= 17)
    cols = []
    for i, field in enumerate(STATE_VECTOR_SCHEMA.fields):
        if isinstance(field.dataType, T.ArrayType):
            # sensors: unused positional slot (SURVEY §1.2 drift) — null
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        else:
            # F.get (not getItem): null past the array end, which is the
            # reference's `s[i] if len(s) > i else None` — and the only
            # OOB-tolerant accessor under ANSI mode.
            cols.append(F.get("__sv", i).cast(field.dataType).alias(field.name))
    out = parsed.select(*cols)
    return out.withColumn("icao24", F.lower(F.trim("icao24"))).withColumn(
        "callsign", F.trim("callsign")
    )


def first_wins_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    lateness: str = "5 minutes",
) -> DataFrame:
    """Idempotency dedup via the NATIVE engine operator: keep the
    FIRST row seen per key within the watermark horizon
    (``dropDuplicatesWithinWatermark``). The right tool when any copy
    of a record is equivalent — retried producers, at-least-once
    replays of immutable events keyed by event_id — because state per
    key is just "seen", evicted once the watermark passes. For
    reference-parity LATEST-wins semantics (newer replaces older),
    use latest_wins_dedup; the two differ exactly when late copies
    carry newer payloads (SURVEY §7 risk 1)."""
    return stream.withWatermark(ts_col, lateness).dropDuplicatesWithinWatermark(keys)


def latest_wins_dedup(
    stream: DataFrame,
    key: str = "icao24",
    ts_col: str = "last_contact",
    ttl_s: int = DEDUP_TTL_S,
    lateness_s: int = 300,
) -> DataFrame:
    """T3/T4/F9 — stateful latest-wins dedup with TTL, the producer's
    exact semantics (producer.py:84-96): emit a record iff its ts is
    newer than the keyed state; evict state idle for ``ttl_s``.

    CAVEAT (the one divergence from the producer): the event-time
    watermark that drives TTL eviction also DROPS any row more than
    ``lateness_s`` behind the max event time seen across ALL keys —
    silently, even when that row is newer than its own key's state
    (e.g. one bursty source delivering a key's backlog after other
    keys advanced the watermark). The default is therefore generous
    (300 s — a full reference poll cycle plus slack, vs the 10 s an
    earlier round shipped); size it to your sources' worst cross-key
    skew, and monitor
    ``query.lastProgress["stateOperators"][0]["numRowsDroppedByWatermark"]``
    — nonzero means real records are being discarded and
    ``lateness_s`` must grow. The cost of a larger value is only
    delayed TTL eviction (state lingers), never wrong emissions.

    ``dropDuplicatesWithinWatermark`` keeps the *first* row seen —
    the reference keeps the *newest* (SURVEY §7 risk 1) — so this is
    an ``applyInPandasWithState`` operator with a long-typed state.
    State is partitioned by key across executors; no global state.

    The TTL is EVENT-time: a watermark on ``ts_col`` (held back by
    ``lateness_s``) drives eviction at ``last_ts + ttl_s``, so which
    records re-emit is a pure function of the data — replay from a
    checkpoint reproduces the exact output (the reference's TTL is
    wall-clock, producer.py:26, and its replays are not).

    The latest-wins scan is vectorized: keep[i] = ts[i] >
    running-max(state floor, ts[:i]) — one cummax over the batch, no
    Python row loop, so high per-key fan-in stays Arrow-speed.
    """
    import numpy as np

    out_schema = stream.schema
    state_schema = T.StructType([T.StructField("last_ts", T.LongType())])

    field_names = [f.name for f in out_schema.fields]
    ttl_ms = ttl_s * 1000

    def dedup_fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (last_ts,) = state.get if state.exists else (None,)
        floor = np.int64(last_ts) if last_ts is not None else np.iinfo(np.int64).min
        for batch in pdfs:
            if not len(batch):
                continue
            ts = batch[ts_col].to_numpy(dtype="int64", copy=False)
            # Arrival order, NOT ts order: the producer emits iff the
            # incoming record is newer than the keyed state at the
            # moment it arrives (producer.py:89-96) — a stale record
            # arriving after a newer one is dropped even within one
            # batch. Vectorized as a cummax mask.
            prev_max = np.maximum.accumulate(np.concatenate(([floor], ts[:-1])))
            keep = ts > prev_max
            floor = max(floor, np.int64(ts.max()))
            if keep.any():
                yield batch.loc[keep, field_names]
        if floor != np.iinfo(np.int64).min:
            state.update((int(floor),))
            # TTL eviction (producer.py:26,84-86): idle keys expire so
            # a long-quiet aircraft re-emits on return. Event-time:
            # fires when the watermark passes last_ts + ttl (clamped
            # above the current watermark, as Spark requires).
            state.setTimeoutTimestamp(
                max(int(floor) * 1000 + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )

    with_evt = stream.withColumn(
        "__evt", F.timestamp_seconds(F.col(ts_col))
    ).withWatermark("__evt", f"{lateness_s} seconds")
    return with_evt.groupBy(key).applyInPandasWithState(
        dedup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def bronze_to_silver(bronze: DataFrame, metadata: DataFrame) -> DataFrame:
    """E2/J1 — continuous silver enrichment: stream-static broadcast
    left join against the (deduped) dimension with 'Unknown' fill
    (process_silver.py:107-120,247-248). The stream side never
    shuffles; each micro-batch joins against the broadcast dim."""
    meta_cols = [c for c in metadata.columns if c != "icao24"]
    dim = (
        metadata.withColumn("icao24", F.lower(F.trim("icao24")))
        .dropDuplicates(["icao24"])  # J2 first-match semantics
    )
    joined = bronze.join(F.broadcast(dim), on="icao24", how="left")
    return joined.na.fill({c: "Unknown" for c in meta_cols})


def windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """T8+T4 — event-time tumbling counts with late-data bound: the
    same groupBy(window(...)) plan the batch twin
    (queries/analytics.py::tumbling_hourly_counts) runs."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), *keys, "n")
    )


def session_windowed_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Session windows on a stream: per-key activity bursts separated
    by ``gap`` of silence, closed and emitted once the watermark
    passes the gap (completing the window-type set next to tumbling
    and sliding). State per key is one open session, merged as events
    arrive — the engine's dynamic-window equivalent of the batch
    lag/cumsum sessionization (queries/analytics.py::sessionize_events);
    the same expression works in batch, which is what the equality
    test pins."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *keys,
            "n",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_s: int = 0,
    upper_s: int = 300,
    watermark_s: int = 600,
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound
    (``how``: "inner" or "left_outer"): a right row matches a left
    row with the same key when
    ``left_ts + lower_s <= right_ts <= left_ts + upper_s`` (e.g.
    "pair each position report with status messages in the following
    5 minutes").

    Both inputs carry watermarks, and the interval condition is what
    BOUNDS THE JOIN STATE: the engine derives from (watermark,
    interval) how long a buffered row can still find a partner and
    evicts it after — without the time bound, stream-stream join state
    grows forever. Per micro-batch the work is one hash shuffle of
    each side on the key: the same co-partitioned equi-join shape as
    the batch twin, and state per key is bounded by the interval width
    × arrival rate, independent of stream length. Right columns are
    prefixed to keep the joined schema collision-free.

    With ``how="left_outer"`` an unmatched left row is emitted with
    NULL right columns — but only once the watermark has passed its
    whole match interval (the engine cannot know "no partner will
    come" earlier), so outer results trail the inner ones by up to
    ``watermark_s + upper_s``. That delayed-null semantic is the
    streaming twin of the batch left join and what funnel queries use
    to count non-converting heads (view_purchase_conversion)."""
    lw = left.withWatermark(left_ts, f"{watermark_s} seconds")
    rw = right.withWatermark(right_ts, f"{watermark_s} seconds")
    rw = rw.select(
        [F.col(c).alias(c if c == key else f"{right_prefix}{c}") for c in rw.columns]
    )
    r_ts = f"{right_prefix}{right_ts}"
    cond = (
        (F.col(r_ts) >= F.col(left_ts) + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (F.col(r_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    # the time bound must live IN the join condition (not a post-
    # filter) so the engine can derive the state-eviction horizon
    return lw.join(
        rw.withColumnRenamed(key, "__rk"),
        (F.col(key) == F.col("__rk")) & cond,
        how,
    ).drop("__rk")


def _start(writer, trigger_seconds: int, available_now: bool):
    """Start ``writer`` on the one trigger choice every sink offers:
    drain what is available and stop, or fire every
    ``trigger_seconds``."""
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{trigger_seconds} seconds").start()


def _lake_sink(
    stream: DataFrame,
    checkpoint: str,
    output_mode: str,
    trigger_seconds: int,
    available_now: bool,
    commit,
):
    """The checkpointed ``foreachBatch`` writer of every LakeTable
    sink: ``commit(batch_df, batch_id)`` runs once per micro-batch."""
    writer = (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    return _start(writer, trigger_seconds, available_now)


def micro_batch_writer(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
):
    """T1/T5/S4/S8 — checkpointed sink with the reference's 60 s flush
    cadence (consumer.py:22); exactly-once replaces its write-then-
    advance text checkpoint (process_silver.py:114-122)."""
    writer = (
        stream.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return _start(writer, trigger_seconds, available_now)


def lake_table_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
    expectations: dict[str, str] | None = None,
):
    """Checkpointed streaming sink into a versioned LakeTable
    (sources/metadata.py): every micro-batch becomes one atomic
    manifest commit, so readers always see batch-aligned snapshots
    and can time-travel across micro-batches.

    Exactly-once: Spark's checkpoint dedups source offsets, and a
    replayed batch id commits nothing (the module docstring's rule).

    ``expectations`` applies write-time CHECK gates per micro-batch in
    drop mode (a stream must keep flowing, so violating ROWS are shed
    and counted, never the whole batch rejected); each committed
    manifest carries that batch's violation audit. The violations are
    counted by an observation on the commit's own write, so a gated
    commit runs the same one job as an ungated one."""
    from ..sources.metadata import LakeTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        table = LakeTable(batch_df.sparkSession, table_path)
        gate = {"expectations": expectations, "expect_mode": "drop"}
        if table.versions():
            table.append(batch_df, extra={"batch_id": batch_id}, **gate)
        else:
            table.create(batch_df, partition_by, extra={"batch_id": batch_id}, **gate)

    return _lake_sink(stream, checkpoint, "append", trigger_seconds, available_now, commit)


def lake_upsert_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str,
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
):
    """E2's foreachBatch-MERGE shape: checkpointed streaming UPSERT
    into a versioned LakeTable — latest-wins per key, so a late update
    REPLACES the stored row in place instead of appending a duplicate
    (the silver-table semantics the reference approximates by
    rewriting whole CSVs, process_silver.py:114-122).

    Each micro-batch is one conditional copy-on-write MERGE,
    ``LakeTable.upsert(order_col=...)``, of the raw batch: it persists
    the batch once for its key range, match and write, reads the files
    whose zone map on keys[0] can hold a batch key (all files when the
    batch has a NULL key) once, and keeps per key the newest of the
    stored row and every batch row in one window: one shuffle of the
    batch per commit. The stored row wins ties and against a NULL
    batch order, a stored NULL order loses to any batch row, NULL keys
    match null-safely, and files outside the key range carry over by
    reference. Equal-order batch rows of one key leave the winner
    arbitrary, as in ``latest_per_key``. On the first batch the same
    MERGE, into an empty snapshot, creates the table. An empty batch
    commits a version that writes no file, so its ``batch_id`` is
    recorded.

    Exactly-once: Spark's checkpoint dedups source offsets, and a
    replayed batch id commits nothing (the module docstring's rule), so
    restarts never double-apply. Batches whose rows are ALL stale
    commit nothing (``upsert`` deletes the files it wrote for them);
    replaying them is a cheap idempotent no-op.
    """
    from ..sources.metadata import LakeTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        LakeTable(batch_df.sparkSession, table_path).upsert(
            batch_df, keys, extra={"batch_id": batch_id}, order_col=order_col
        )

    return _lake_sink(stream, checkpoint, "update", trigger_seconds, available_now, commit)


def lake_aggregate_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    count_col: str = "n",
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
):
    """Incrementally maintained aggregate (a streaming materialized
    view): each micro-batch's per-key counts ADD into a versioned
    LakeTable instead of replacing rows — the counts twin of
    ``lake_upsert_sink``'s latest-wins merge, and the streaming
    equivalent of re-running a batch groupBy over all history without
    ever re-reading history.

    Each micro-batch, with a count of 1 per row, is one additive
    copy-on-write MERGE, ``LakeTable.accumulate``: it persists the
    batch once, reads the files whose zone map on key_cols[0] can hold
    a batch key (all files when the batch has a NULL key) once, and
    sums the stored count and the batch's rows per key in one
    aggregation. The sum groups NULL keys together, or the stored
    NULL-key count would never match and the key would re-insert fresh
    every batch (silent divergence). Files outside the key range carry
    over by reference. On the first batch the same MERGE, into an
    empty snapshot, creates the table. An empty batch commits a
    version that writes no file, so its ``batch_id`` is recorded.

    Exactly-once: checkpointed source offsets plus the module
    docstring's replay rule — a replayed batch id commits nothing, so
    counts can never double-apply (the failure mode that makes naive
    foreachBatch aggregation wrong)."""
    from ..sources.metadata import LakeTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        ones = batch_df.select(*key_cols, F.lit(1).cast("bigint").alias(count_col))
        LakeTable(batch_df.sparkSession, table_path).accumulate(
            ones, key_cols, count_col, extra={"batch_id": batch_id}
        )

    return _lake_sink(stream, checkpoint, "update", trigger_seconds, available_now, commit)


def lake_scd2_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    change_ts: str,
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
):
    """Streaming SCD2 historization: each micro-batch's key changes
    CLOSE the stored current dimension row and open a new version
    (LakeTable.upsert_scd2) — the streaming twin of a nightly
    dimension load, keeping full history queryable point-in-time
    (read_asof) while the stream runs.

    Each micro-batch is one ``upsert_scd2`` MERGE of the raw batch: it
    keeps the LATEST change per key (earlier same-batch changes are
    superseded before touching the table), persists those rows once
    for all its reads and merges copy-on-write with zone-map pruning.
    On the first batch the same MERGE, into an empty snapshot, creates
    the table. An empty batch commits a version that writes no file,
    so its ``batch_id`` is recorded. Exactly-once by the module
    docstring's replay rule: a replayed batch id commits nothing, so
    history can never double-close or duplicate versions."""
    from ..sources.metadata import LakeTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        LakeTable(batch_df.sparkSession, table_path).upsert_scd2(
            batch_df, keys, change_ts, extra={"batch_id": batch_id}
        )

    return _lake_sink(stream, checkpoint, "update", trigger_seconds, available_now, commit)


def indexed_novelty_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    trigger_seconds: int = FLUSH_TRIGGER_S,
    available_now: bool = False,
):
    """The lake-maintained MinHash dedup index run as an ACTUAL
    streaming query (r8 verdict item #5 — the reference's poll-cadence
    semantics, ``services/silver_layer/process_silver.py:258-261``,
    applied to the index-fed novelty path): each document micro-batch

      1. sketches ONLY the batch (row-local MinHash, no archive
         access),
      2. probes the PRE-EXISTING lake band index for candidates and
         scores signature agreement against the lake signature table
         (``queries.curation.probe_minhash_novelty`` — the IDENTICAL
         plan the registered batch query runs),
      3. appends the batch's novelty verdicts to ``out_path``, and
      4. appends the batch's signatures + band rows to the index
         tables — so batch N+1 sees batches 1..N as archive.

    The first batch bootstraps empty index tables (every doc novel,
    max_est_sim 0.0) — a cold-started stream needs no offline build.

    Exactly-once: Spark's checkpoint dedups source offsets, and each
    of the three tables applies the module docstring's replay rule on
    its own — a replayed batch commits nothing to a table it already
    reached, so a crash BETWEEN the novelty commit and the index
    commits heals on restart (the novelty append skips, the missing
    index appends land).

    Scale shape: per-trigger cost is the batch sketch (row-local) +
    one narrow (band, bkey) equi-join + a candidate-keyed signature
    join — it scales with the batch, never the archive; the index
    grows by exactly the batch's rows per trigger (the maintained
    append path the batch twin simulates with N_INDEX_COMMITS)."""
    from ..sources.metadata import LakeTable

    def _commit_or_skip(table: "LakeTable", df: DataFrame, extra: dict) -> None:
        (table.append if table.versions() else table.create)(df.coalesce(4), extra=extra)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # lazy: queries.* imports streaming.* at module load
        from ..queries.curation import _archive_sig_frames, probe_minhash_novelty

        spark = batch_df.sparkSession
        sigs_t = LakeTable(spark, os.path.join(index_path, "sigs"))
        bands_t = LakeTable(spark, os.path.join(index_path, "bands"))
        out_t = LakeTable(spark, out_path)
        # per-trigger cache tracker: the sig-array cache inside
        # _archive_sig_frames must release with THIS batch, not at a
        # query boundary the stream never reaches (r12). Since r13 the
        # helper caches the (doc_id, 32-long sig array) frame itself —
        # metadata-scale — and the returned sig is a free projection
        # over it, so the old second sig.persist() here was redundant
        # storage and is gone.
        batch_caches: list[DataFrame] = []

        def _persist(df: DataFrame) -> DataFrame:
            df.persist()
            batch_caches.append(df)
            return df

        sig, bands = _archive_sig_frames(batch_df, persist=_persist)
        try:
            if sigs_t.versions():
                novelty = probe_minhash_novelty(
                    sig,
                    bands_t.read().select(
                        F.col("doc_id").alias("old_id"), "band", "bkey"
                    ),
                    sigs_t.read(),
                )
            else:  # cold start: nothing to probe, everything is novel
                novelty = sig.select(
                    "doc_id",
                    F.lit(0.0).alias("max_est_sim"),
                    F.lit(True).alias("is_novel"),
                )
            for table, df in ((out_t, novelty), (sigs_t, sig), (bands_t, bands)):
                _commit_or_skip(table, df, extra={"batch_id": batch_id})
        finally:
            for c in batch_caches:
                c.unpersist()

    return _lake_sink(stream, checkpoint, "append", trigger_seconds, available_now, commit)
