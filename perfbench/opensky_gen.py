"""Seeded OpenSky poll generator with a pure-Python expected result.

Writes ``n_polls`` JSON-lines files shaped like the reference's Kafka
messages (one ``{"value": "<payload>"}`` per line) plus an aircraft
metadata CSV, and computes what the medallion pipeline must produce
from them without Spark:

- bronze: every state vector with at least 17 positional fields;
- silver: per lower/trimmed ``icao24`` the vector with the highest
  ``last_contact``, left-joined to the first metadata row of that key
  (file order, after the same key normalisation) with ``'Unknown'``
  filling missing attributes;
- the silver row count after each committed version.

Payloads are split across the three wire formats ``normalize_payloads``
accepts: one ``{"states": [...]}`` dict, nested lists of vectors, and
flat single vectors. A small share of rows is short (< 17 fields),
some keys carry case and space noise, and some vectors are stale,
out-of-order re-sends. ``last_contact`` values are unique per key by
construction, so latest-wins has no ties and the expected silver table
does not depend on arrival order.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

POLL_INTERVAL_S = 190  # the reference producer's poll cadence
T0 = 1_700_000_000
META_COLS = ("model", "operator", "manufacturerName", "categoryDescription")
COUNTRIES = (
    "United States", "Germany", "United Kingdom", "France", "China",
    "Canada", "Brazil", "Spain", "India", "Japan", "Australia", "Turkey",
    "Italy", "Mexico", "Netherlands", "Ireland", "Switzerland", "Russia",
)
MODELS = ("A320", "A321", "B738", "B77W", "E190", "CRJ9", "A359", "B789")
OPERATORS = ("Lufthansa", "Delta", "Ryanair", "United", "Air France",
             "Qantas", "Emirates", "KLM", "Iberia", "Turkish")
MAKERS = ("Airbus", "Boeing", "Embraer", "Bombardier")
CATEGORIES = ("Large", "Heavy", "Small", "High Vortex Large")

SHORT_SHARE = 0.01  # rows the parser drops (< 17 fields)
STALE_SHARE = 0.02  # out-of-order re-sends of an older position
DIRTY_SHARE = 0.05  # keys with case/space noise
PRESENT_SHARE = 0.75  # share of the fleet reporting in each poll


@dataclass
class Expected:
    """What the pipeline must produce from the generated files."""

    bronze_rows: int
    silver: dict[str, tuple]  # icao24 -> full silver row
    silver_rows_by_version: list[int]
    tracks: dict[str, list[int]] = field(repr=False)  # icao24 -> last_contacts
    upserted_by_poll: list[int] = field(default_factory=list)  # keys changed
    vectors_written: int = 0  # including short rows
    input_bytes: int = 0
    poll_files: list[str] = field(default_factory=list)
    metadata_csv: str = ""


def _hex_key(rng: random.Random) -> str:
    return f"{rng.randrange(16**6):06x}"


def _dirty(key: str, rng: random.Random) -> str:
    noisy = "".join(c.upper() if rng.random() < 0.5 else c for c in key)
    return rng.choice(("", " ", "  ")) + noisy + rng.choice(("", " "))


def _vector(rng: random.Random, key: str, ac: dict, last_contact: int) -> list:
    """One positional state vector (producer.py field order)."""
    on_ground = rng.random() < 0.1
    vec = [
        key,
        ac["callsign"],
        ac["country"],
        last_contact - rng.randrange(6) if rng.random() < 0.95 else None,
        last_contact,
        round(rng.uniform(-180, 180), 4),
        round(rng.uniform(-60, 70), 4),
        None if on_ground else round(rng.uniform(300, 12500), 2),
        on_ground,
        round(rng.uniform(0, 280), 2),
        round(rng.uniform(0, 360), 2),
        round(rng.uniform(-20, 20), 2),
        None,
        None if on_ground else round(rng.uniform(300, 12800), 2),
        f"{rng.randrange(10000):04d}" if rng.random() < 0.8 else None,
        False,
        rng.randrange(4),
    ]
    if rng.random() < 0.5:
        vec.append(rng.randrange(18))  # optional 18th field: category
    return vec


def _silver_row(vec: list, meta: dict | None) -> tuple:
    """The typed silver row ``parse_state_vectors`` + ``bronze_to_silver``
    make from one valid vector."""
    sv = list(vec[:18]) + [None] * (18 - len(vec[:18]))
    sv[0] = sv[0].strip().lower()
    sv[1] = sv[1].strip() if sv[1] is not None else None
    sv[12] = None  # sensors: unused positional slot
    attrs = tuple(
        (meta or {}).get(c) if (meta or {}).get(c) is not None else "Unknown"
        for c in META_COLS
    )
    return tuple(sv) + attrs


def generate(out_dir: str, seed: int, n_polls: int, vectors_per_poll: int) -> Expected:
    """Write the poll files and metadata CSV under ``out_dir``; return the
    expected pipeline result."""
    rng = random.Random(seed)
    fleet_size = int(vectors_per_poll / PRESENT_SHARE)
    keys: list[str] = []
    seen: set[str] = set()
    while len(keys) < fleet_size:
        k = _hex_key(rng)
        if k not in seen:
            seen.add(k)
            keys.append(k)
    fleet = {
        k: {
            "callsign": f"{rng.choice(('DLH', 'DAL', 'RYR', 'UAL', 'AFR'))}"
            f"{rng.randrange(10000):<5d}",
            "country": rng.choice(COUNTRIES),
            "offset": rng.randrange(60),
        }
        for k in keys
    }

    # metadata dimension: ~70% of the fleet, some attributes missing,
    # ~5% duplicate keys (noisy spelling, different attributes) after
    # the original row -- first match wins
    meta_rows: list[tuple[str, dict]] = []
    for k in keys:
        if rng.random() < 0.7:
            meta_rows.append(
                (k, {c: (rng.choice(pool) if rng.random() < 0.9 else None)
                     for c, pool in zip(META_COLS, (MODELS, OPERATORS, MAKERS, CATEGORIES))})
            )
    for k, _ in rng.sample(meta_rows, len(meta_rows) // 20):
        meta_rows.append((_dirty(k, rng), {c: "Duplicate" for c in META_COLS}))
    first_meta: dict[str, dict] = {}
    for k, attrs in meta_rows:
        first_meta.setdefault(k.strip().lower(), attrs)

    os.makedirs(out_dir, exist_ok=True)
    meta_path = os.path.join(out_dir, "aircraft_metadata.csv")
    with open(meta_path, "w", newline="\n") as fh:
        fh.write("icao24," + ",".join(META_COLS) + "\n")
        for k, attrs in meta_rows:
            fh.write(",".join([k] + [attrs[c] or "" for c in META_COLS]) + "\n")

    poll_dir = os.path.join(out_dir, "polls")
    os.makedirs(poll_dir, exist_ok=True)
    latest: dict[str, list] = {}  # normalized key -> winning vector
    tracks: dict[str, list[int]] = {}
    rows_by_version: list[int] = []
    upserted_by_poll: list[int] = []
    bronze_rows = 0
    vectors_written = 0
    input_bytes = 0
    files = []
    for p in range(n_polls):
        base = T0 + p * POLL_INTERVAL_S
        vectors = []
        for k in keys:
            ac = fleet[k]
            wire_key = _dirty(k, rng) if rng.random() < DIRTY_SHARE else k
            if rng.random() < PRESENT_SHARE:
                vectors.append(_vector(rng, wire_key, ac, base + ac["offset"]))
            if p > 0 and rng.random() < STALE_SHARE:
                # re-send of an older position, between polls p-2 and
                # p-1: it loses to a fresh vector from poll p-1 or p
                stale_lc = base - POLL_INTERVAL_S - POLL_INTERVAL_S // 2 + ac["offset"]
                vectors.append(_vector(rng, wire_key, ac, stale_lc))
        rng.shuffle(vectors)
        valid = []
        for i, v in enumerate(vectors):
            if rng.random() < SHORT_SHARE:
                vectors[i] = v[: rng.randrange(8, 17)]
            else:
                valid.append(v)

        # split across the three payload formats
        n = len(vectors)
        cut1, cut2 = int(n * 0.4), int(n * 0.8)
        payloads = [json.dumps({"states": vectors[:cut1]})]
        for i in range(cut1, cut2, 500):
            payloads.append(json.dumps(vectors[i : min(i + 500, cut2)]))
        payloads += [json.dumps(v) for v in vectors[cut2:]]
        path = os.path.join(poll_dir, f"poll-{p:05d}.json")
        with open(path, "w", newline="\n") as fh:
            for payload in payloads:
                fh.write(json.dumps({"value": payload}) + "\n")
        input_bytes += os.path.getsize(path)
        os.utime(path, (T0 + p, T0 + p))  # the file source reads oldest first
        files.append(path)
        vectors_written += len(vectors)

        # expected effects of this poll's micro-batch
        bronze_rows += len(valid)
        changed = set()
        for v in valid:
            key = v[0].strip().lower()
            tracks.setdefault(key, []).append(v[4])
            cur = latest.get(key)
            if cur is None or v[4] > cur[4]:
                latest[key] = v
                changed.add(key)
        upserted_by_poll.append(len(changed))
        if changed or p == 0:  # the upsert sink skips all-stale batches
            rows_by_version.append(len(latest))

    silver = {k: _silver_row(v, first_meta.get(k)) for k, v in latest.items()}
    for t in tracks.values():
        t.sort()
    return Expected(
        bronze_rows=bronze_rows,
        silver=silver,
        silver_rows_by_version=rows_by_version,
        tracks=tracks,
        upserted_by_poll=upserted_by_poll,
        vectors_written=vectors_written,
        input_bytes=input_bytes,
        poll_files=files,
        metadata_csv=meta_path,
    )
