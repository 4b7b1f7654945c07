from .ingest import (
    bronze_to_silver,
    interval_join,
    kafka_source,
    lake_table_sink,
    first_wins_dedup,
    latest_wins_dedup,
    micro_batch_writer,
    normalize_payloads,
    parse_state_vectors,
    session_windowed_counts,
    windowed_counts,
)

__all__ = [
    "bronze_to_silver",
    "interval_join",
    "kafka_source",
    "lake_table_sink",
    "first_wins_dedup",
    "latest_wins_dedup",
    "micro_batch_writer",
    "normalize_payloads",
    "parse_state_vectors",
    "session_windowed_counts",
    "windowed_counts",
]
