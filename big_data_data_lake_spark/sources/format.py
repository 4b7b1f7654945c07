"""Table-format seam: the protocol a lakehouse table binding must
satisfy so the engine's pipelines are FORMAT-PORTABLE.

``LakeTable`` (sources/metadata.py) implements these capabilities —
versioned snapshots, time travel, MERGE/upsert, change feed,
compaction, vacuum — over plain parquet + JSON manifests, because
neither the Delta nor the Iceberg runtime jar ships in this
container. On a cluster where one does, a thin adapter class with the
same surface swaps in WITHOUT touching any pipeline code; this module
pins that surface as a typing.Protocol (structurally checked — the
adapter needs no import of this package) and documents the jar
coordinates, mirroring how streaming/ingest.py's Kafka smoke names
its blocked jar.

Delta binding (documented seam, jar-blocked here):
    packages: io.delta:delta-spark_2.13:4.0.0  (Spark 4.x line)
    session:  spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension
              spark.sql.catalog.spark_catalog=
                  org.apache.spark.sql.delta.catalog.DeltaCatalog
    mapping:  create/append/overwrite -> df.write.format("delta")
              read(version=v)         -> spark.read.format("delta")
                                         .option("versionAsOf", v)
              upsert                  -> DeltaTable.merge (whenMatched
                                         update / whenNotMatched insert)
              changes                 -> readChangeFeed + startingVersion
              compact                 -> OPTIMIZE (bin-packing)
              cluster_by              -> OPTIMIZE ZORDER BY
              vacuum                  -> VACUUM <retention>
Iceberg binding:
    packages: org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0
    mapping:  snapshots <-> versions, expire_snapshots <-> vacuum,
              rewrite_data_files <-> compact, incremental read <->
              changes.

Reference parity: the reference's lake layer is a directory of parquet
plus ad-hoc metadata (process_silver.py); this seam is where its
single-node layout generalizes to a transactional table format.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame


@runtime_checkable
class TableFormat(Protocol):
    """Minimal capability surface the engine's pipelines rely on.

    Write methods return the new table VERSION (monotonically
    increasing int); ``read`` pins a snapshot (latest when version is
    None). Structural typing: any class with these methods satisfies
    the protocol — LakeTable today, a Delta/Iceberg adapter where the
    jar exists.
    """

    def versions(self) -> list[int]: ...

    def latest_version(self) -> int: ...

    def create(self, df: DataFrame, *args, **kwargs) -> int: ...

    def append(self, df: DataFrame, *args, **kwargs) -> int: ...

    def overwrite(self, df: DataFrame, *args, **kwargs) -> int: ...

    def upsert(self, df: DataFrame, keys: list[str], *args, **kwargs) -> int: ...

    def read(self, version: int | None = None, **kwargs) -> DataFrame: ...

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame: ...

    def row_count(self, version: int | None = None) -> int: ...

    def compact(self, *args, **kwargs) -> int: ...

    def vacuum(self, retain_last: int = 1) -> list[str]: ...
