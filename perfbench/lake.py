"""``lake_ingest``: OpenSky polls through bronze and silver LakeTables,
then snapshot reads.

Set-up generates the seeded poll files. One cycle then runs, one call at
a time:

1. ``readStream.json(maxFilesPerTrigger=1)`` -> ``normalize_payloads``
   -> ``parse_state_vectors`` -> ``lake_table_sink`` into bronze
   (append, ``availableNow``);
2. the same stream -> ``bronze_to_silver`` -> ``lake_upsert_sink`` into
   silver (latest-wins on ``icao24`` by ``last_contact``);
3. seeded snapshot reads: a country filter plus group-by on silver, a
   ``stat_filter`` point lookup of one aircraft's track on bronze, and a
   time-travel ``read(version=k)`` on silver.

After the cycle, outside any timing, bronze and silver are checked
against the generator's expected result.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import time
from datetime import datetime

from harness import WORK_DIR, Ledger, median, tail
from tracing import maybe_span
from opensky_gen import META_COLS, Expected, generate

N_POLLS = 5
VECTORS_PER_POLL = 10_000
READ_ROUNDS = 2  # each round runs the three snapshot reads once
STREAM_TIMEOUT_S = 150


def setup(seed: int) -> Expected:
    out = os.path.join(WORK_DIR, "lake", "input")
    shutil.rmtree(out, ignore_errors=True)
    return generate(out, seed, N_POLLS, VECTORS_PER_POLL)


def _await(query, what: str) -> list[dict]:
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"{what} did not finish in {STREAM_TIMEOUT_S} s")
    if query.exception() is not None:
        raise RuntimeError(f"{what} failed: {query.exception()}")
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _stream(spark, exp: Expected):
    from big_data_data_lake_spark.streaming import normalize_payloads, parse_state_vectors

    raw = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.dirname(exp.poll_files[0]))
    )
    return parse_state_vectors(normalize_payloads(raw))


def _reads(exp: Expected, bronze, silver, rng: random.Random):
    """The seeded phase-3 reads: (name, build, expected result) each."""
    from pyspark.sql import functions as F

    countries = sorted({row[2] for row in exp.silver.values()})
    keys = sorted(exp.tracks)
    out = []
    for _ in range(READ_ROUNDS):
        country = rng.choice(countries)
        key = rng.choice(keys)
        version = rng.randrange(len(exp.silver_rows_by_version))
        by_operator = collections.Counter(
            row[19] for row in exp.silver.values() if row[2] == country
        )
        out += [
            (
                f"silver_country:{country}",
                lambda c=country: silver.read()
                .where(F.col("origin_country") == c)
                .groupBy("operator")
                .count(),
                lambda rows, want=by_operator: {r[0]: r[1] for r in rows} == dict(want),
            ),
            (
                f"bronze_track:{key}",
                lambda k=key: bronze.read(stat_filter={"icao24": (k, k)})
                .where(F.col("icao24") == k)
                .select("last_contact"),
                lambda rows, want=exp.tracks[key]: sorted(r[0] for r in rows) == want,
            ),
            (
                f"silver_version:{version}",
                lambda v=version: silver.read(version=v).groupBy().count(),
                lambda rows, want=exp.silver_rows_by_version[version]: rows[0][0] == want,
            ),
        ]
    rng.shuffle(out)
    return out


def _trigger_s(progress: list[dict], key: str = "triggerExecution") -> dict[int, float]:
    return {p["batchId"]: p["durationMs"].get(key, 0) / 1000 for p in progress}


def cycle(spark, exp: Expected, seed: int, root: str, ledger: Ledger, tracer=None) -> dict:
    """One ingest cycle into fresh tables under ``root``; returns figures."""
    from big_data_data_lake_spark.sources.catalog import read_csv
    from big_data_data_lake_spark.sources.metadata import LakeTable
    from big_data_data_lake_spark.streaming import bronze_to_silver, lake_table_sink
    from big_data_data_lake_spark.streaming.ingest import lake_upsert_sink

    shutil.rmtree(root, ignore_errors=True)
    bronze_path, silver_path = f"{root}/bronze", f"{root}/silver"
    bronze, silver = LakeTable(spark, bronze_path), LakeTable(spark, silver_path)
    sc = spark.sparkContext
    starts, run_ids = {}, set()

    def run_stream(name: str, start):
        starts[name] = time.time()
        with maybe_span(tracer, "op", op=name):
            query = start()
            progress = _await(query, name)
        run_ids.add(str(query.runId))
        return progress

    t0 = time.perf_counter()
    try:
        bronze_progress = run_stream(
            "ingest.bronze",
            lambda: lake_table_sink(
                _stream(spark, exp), bronze_path, f"{root}/ckpt_bronze", available_now=True
            ),
        )
    except Exception as exc:
        ledger.fail("ingest.bronze", exc)
        return {}
    t1 = time.perf_counter()
    try:
        meta = read_csv(spark, exp.metadata_csv, quote="'")
        silver_progress = run_stream(
            "ingest.silver",
            lambda: lake_upsert_sink(
                bronze_to_silver(_stream(spark, exp), meta),
                silver_path,
                f"{root}/ckpt_silver",
                keys=["icao24"],
                order_col="last_contact",
                available_now=True,
            ),
        )
    except Exception as exc:
        ledger.fail("ingest.silver", exc)
        return {}
    t2 = time.perf_counter()
    for p in bronze_progress:
        ledger.record(f"bronze batch {p['batchId']}")
    for p in silver_progress:
        ledger.record(f"silver batch {p['batchId']}")

    reads = _reads(exp, bronze, silver, random.Random(seed + 1))
    read_s, results = [], []
    for name, build, _ in reads:
        try:
            if tracer is not None:
                sc.setJobGroup(name, name)
            r0 = time.perf_counter()
            with maybe_span(tracer, "op", op=name):
                rows = build().collect()
            read_s.append(time.perf_counter() - r0)
            results.append(rows)
        except Exception as exc:
            ledger.fail(name, exc)
            results.append(None)
    t3 = time.perf_counter()
    if tracer is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)

    append = _trigger_s(bronze_progress)
    upsert = _trigger_s(silver_progress)
    polls = sorted(set(append) & set(upsert) - {0})  # batch 0 creates the table
    per_poll = [append[b] + upsert[b] for b in polls]
    q = max(1, len(per_poll) // 4)
    return {
        "mix_s": t3 - t0,
        "ingest_s": t2 - t0,
        "op_p50_s": median(per_poll),
        "append_s": [append[b] for b in sorted(append) if b != 0],
        "upsert_s": [upsert[b] for b in sorted(upsert) if b != 0],
        "read_s": read_s,
        "reads": reads,
        "read_results": results,
        "commit_growth": median(per_poll[-q:]) / median(per_poll[:q]),
        "rows_committed": bronze.row_count(),
        "bronze_progress": bronze_progress,
        "silver_progress": silver_progress,
        "stream_starts": starts,
        "stream_run_ids": run_ids,
        "bronze": bronze,
        "silver": silver,
        "phase_s": {"bronze": t1 - t0, "silver": t2 - t1, "reads": t3 - t2},
    }


def verify(exp: Expected, c: dict, ledger: Ledger) -> None:
    """Check one cycle's read results and tables; outside any timing.
    Also counts the files each read scanned."""
    c["read_files_scanned"] = 0
    for (name, build, ok), rows in zip(c["reads"], c["read_results"]):
        if rows is None:
            continue
        ledger.record(name, None if ok(rows) else ["wrong result"])
        c["read_files_scanned"] += len(build().inputFiles())
    check_tables(exp, c["bronze"], c["silver"], ledger)


def check_tables(exp: Expected, bronze, silver, ledger: Ledger) -> None:
    """Bronze row count, committed versions and silver rows against the
    generator's expected result; a mismatch fails the phase's op."""
    want_versions = list(range(len(exp.poll_files)))
    if bronze.versions() != want_versions:
        ledger.mismatch("bronze versions", [f"{bronze.versions()} != {want_versions}"])
    n = bronze.read().count()
    if n != exp.bronze_rows:
        ledger.mismatch("bronze rows", [f"{n} != {exp.bronze_rows}"])
    want_versions = list(range(len(exp.silver_rows_by_version)))
    if silver.versions() != want_versions:
        ledger.mismatch("silver versions", [f"{silver.versions()} != {want_versions}"])
    df = silver.read()
    rows = {r["icao24"]: tuple(r) for r in df.collect()}
    from big_data_data_lake_spark.schemas import STATE_VECTOR_FIELDS

    order = list(STATE_VECTOR_FIELDS) + list(META_COLS)
    if df.columns != order:
        ledger.mismatch("silver columns", [f"{df.columns} != {order}"])
    elif rows != exp.silver:
        wrong = sorted(k for k in set(rows) | set(exp.silver) if rows.get(k) != exp.silver.get(k))
        ledger.mismatch(
            "silver rows",
            [f"{len(wrong)} keys differ, e.g. {wrong[0]}: "
             f"{rows.get(wrong[0])} != {exp.silver.get(wrong[0])}"],
        )


def _parquet_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return total


def figures(exp: Expected, c: dict) -> dict:
    """The lake's own wall-clock and storage figures from one cycle. A
    tail is the highest percentile with ten samples beyond it, so with
    fewer than eleven commits it is reported as missing."""
    append_tail = tail(c["append_s"])
    upsert_tail = tail(c["upsert_s"])
    stored = _parquet_bytes(c["bronze"].path) + _parquet_bytes(c["silver"].path)
    return {
        "ingest_rows_per_s": c["rows_committed"] / c["ingest_s"],
        "append_commit_p50_s": median(c["append_s"]),
        "append_commit_tail_s": append_tail[0] if append_tail else None,
        "append_commit_tail": append_tail[1:] if append_tail else f"n={len(c['append_s'])} < 11",
        "upsert_commit_p50_s": median(c["upsert_s"]),
        "upsert_commit_tail_s": upsert_tail[0] if upsert_tail else None,
        "upsert_commit_tail": upsert_tail[1:] if upsert_tail else f"n={len(c['upsert_s'])} < 11",
        "snapshot_read_p50_s": median(c["read_s"]),
        "storage_bytes_per_input_byte": stored / exp.input_bytes,
    }


def rows_upserted(silver) -> list[int]:
    """Rows each silver commit wrote or replaced, from the committed
    versions themselves: all of version 0, then the rows of each
    version that the version before it does not hold."""
    versions = silver.versions()
    out = [silver.manifest(versions[0])["rows"]] if versions else []
    for prev, v in zip(versions, versions[1:]):
        out.append(silver.read(version=v).exceptAll(silver.read(version=prev)).count())
    return out


def layer_metrics(spark, exp: Expected, c: dict, tracer, ledger: Ledger) -> dict:
    """Per-layer metrics of the lake and streaming layers for a traced
    cycle. The rows each upsert committed are checked against the
    generator's expected result; a mismatch fails the silver ingest."""
    from big_data_data_lake_spark.sources.metadata import MANIFEST_DIR

    from tracing import exec_counters, layer_totals, spark_jobs

    totals = layer_totals(tracer.spans)
    all_files, snapshot_files, manifest_bytes = {}, 0, 0
    upsert_bytes = 0
    for table in (c["bronze"], c["silver"]):
        prev: set[str] = set()
        for v in table.versions():
            files = {f["path"]: f.get("bytes", 0) for f in table.manifest(v)["files"]}
            all_files.update(files)
            if table is c["silver"] and v > 0:
                upsert_bytes += sum(b for p, b in files.items() if p not in prev)
            prev = set(files)
        snapshot_files += len(prev)
        mdir = os.path.join(table.path, MANIFEST_DIR)
        manifest_bytes += sum(
            os.path.getsize(os.path.join(mdir, n)) for n in os.listdir(mdir) if n.endswith(".json")
        )
    upserted = rows_upserted(c["silver"])
    want = [n for n in exp.upserted_by_poll if n]
    if upserted != want:
        ledger.mismatch("silver rows upserted", [f"{upserted} != {want}"])
    progress = c["bronze_progress"] + c["silver_progress"]

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000

    def first_trigger(ps: list[dict]) -> float:
        return datetime.fromisoformat(ps[0]["timestamp"].replace("Z", "+00:00")).timestamp()

    stream_start = first_trigger(c["bronze_progress"]) - c["stream_starts"]["ingest.bronze"]
    stream_start += first_trigger(c["silver_progress"]) - c["stream_starts"]["ingest.silver"]

    # streaming jobs carry their query's run id as job group
    jobs = spark_jobs(spark, {s["op"] for s in tracer.spans} | c["stream_run_ids"])
    out = {
        "lake.create_s": totals.get("lake.create", {}).get("s", 0.0),
        "lake.append_s": totals.get("lake.append", {}).get("s", 0.0),
        "lake.upsert_s": totals.get("lake.upsert", {}).get("s", 0.0),
        "lake.read_s": totals.get("lake.read", {}).get("s", 0.0),
        "lake.files_added": len(all_files),
        "lake.bytes_written": sum(all_files.values()),
        "lake.upsert_bytes_rewritten_per_row": upsert_bytes / max(1, sum(upserted[1:])),
        "lake.snapshot_files": snapshot_files,
        "lake.manifest_bytes": manifest_bytes,
        "lake.read_files_scanned": c["read_files_scanned"],
        "lake.commit_growth": c["commit_growth"],
        "ingest.trigger_s": dur("triggerExecution"),
        "ingest.add_batch_s": dur("addBatch"),
        "ingest.query_planning_s": dur("queryPlanning"),
        "ingest.get_batch_s": dur("getBatch"),
        "ingest.stream_start_s": stream_start,
        "ingest.rows_in": sum(p["numInputRows"] for p in c["bronze_progress"]),
        "ingest.rows_parsed": c["rows_committed"],
        "ingest.rows_dropped_malformed": exp.vectors_written - c["rows_committed"],
        "ingest.rows_upserted": sum(upserted),
    }
    out.update(exec_counters(spark, jobs))
    return out
