"""Lake-table metadata layer: snapshot isolation, time travel,
partition pruning from the manifest, and atomic commits.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from big_data_data_lake_spark.sources.metadata import LakeTable


@pytest.fixture()
def events(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0, "2024-01-01"), (2, "b", 20.0, "2024-01-01"),
         (3, "a", 30.0, "2024-01-02")],
        "id long, k string, v double, day string",
    )


def test_create_read_roundtrip(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    assert t.create(events, partition_by=["day"]) == 0
    got = t.read()
    assert got.schema == events.schema
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]


def test_append_creates_new_version_old_still_readable(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    more = spark.createDataFrame(
        [(4, "c", 40.0, "2024-01-03")], "id long, k string, v double, day string"
    )
    assert t.append(more) == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3, 4]
    # time travel: version 0 unchanged
    assert sorted(r.id for r in t.read(version=0).collect()) == [1, 2, 3]


def test_overwrite_is_snapshot_isolated(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    t.overwrite(
        spark.createDataFrame([(9, "z", 0.0, "2024-02-01")], events.schema)
    )
    assert [r.id for r in t.read().collect()] == [9]
    assert sorted(r.id for r in t.read(version=0).collect()) == [1, 2, 3]


def test_table_rooted_under_equals_dir_reads_clean(spark, events, tmp_path):
    """A table whose ROOT path contains '=' (e.g. /data/run=3/tbl)
    must not have that segment mistaken for a hive partition
    boundary: basePath anchored there would truncate the root and
    inject a spurious inferred 'run' column on every read (advisor
    finding, r5 — _base_of scanned the whole path for '=')."""
    root = tmp_path / "run=3" / "tbl"
    t = LakeTable(spark, str(root))
    t.create(events, partition_by=["day"])
    got = t.read()
    assert got.schema == events.schema  # no spurious 'run' column
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]
    # unpartitioned table under the same root: same guarantee
    u = LakeTable(spark, str(tmp_path / "run=3" / "flat"))
    u.create(events.drop("day"))
    got2 = u.read()
    assert got2.schema == events.drop("day").schema
    assert got2.count() == 3


def test_partition_filter_prunes_files_manifest_side(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    pruned = t.read(partition_filter={"day": "2024-01-01"})
    rows = pruned.collect()
    assert sorted(r.id for r in rows) == [1, 2]
    # the pruned read must touch only matching files
    man = t.manifest()
    matching = [f for f in man["files"] if f["partition"].get("day") == "2024-01-01"]
    assert {os.path.dirname(f["path"]) for f in matching}


def test_row_count_answers_from_manifest_only(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events)
    assert t.row_count() == 3


def test_double_create_refuses(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events)
    with pytest.raises(FileExistsError):
        t.create(events)


def test_stat_filter_skips_files_by_zone_map(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    lo = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    hi = spark.createDataFrame([(i, float(i)) for i in range(100, 110)], "id long, v double")
    t.create(lo.coalesce(1))
    t.append(hi.coalesce(1))
    man = t.manifest()
    assert all("stats" in f and "v" in f["stats"] for f in man["files"])
    # predicate v >= 100: only the hi file can match
    pruned = t.read(stat_filter={"v": (100.0, None)})
    assert sorted(r.id for r in pruned.collect()) == list(range(100, 110))
    # files actually handed to Spark: 1 of 2
    matching = [
        f for f in man["files"]
        if not (f["stats"]["v"]["max"] < 100.0)
    ]
    assert len(matching) == 1 and len(man["files"]) == 2


def test_compact_merges_small_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, "2024-01-0" + str(1 + i % 2)) for i in range(20)], "id long, day string"
    )
    t.create(base.repartition(4), partition_by=["day"])
    for _ in range(3):
        t.append(base.limit(5).repartition(2))
    n_before = len(t.manifest()["files"])
    v = t.compact(files_per_partition=1)
    n_after = len(t.manifest(v)["files"])
    assert n_after < n_before
    assert n_after == 2  # one file per day partition
    assert t.read().count() == 35


def test_vacuum_drops_old_versions_and_dead_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "x")], "id long, k string")
    t.create(df)
    t.overwrite(spark.createDataFrame([(2, "y")], "id long, k string"))
    deleted = t.vacuum(retain_last=1)
    assert deleted, "vacuum should delete the dead v0 file"
    assert t.versions() == [t.latest_version()]
    assert [r.id for r in t.read().collect()] == [2]


def test_shallow_clone_is_zero_copy_and_independently_writable(spark, tmp_path):
    """SHALLOW CLONE: the clone's v0 references the source's files by
    absolute path (no data copied), reads equal the source snapshot,
    appends to the clone land under the clone's own directory and
    union correctly across the mixed roots (per-file basePath), the
    source never changes, and the clone's vacuum cannot touch source
    files."""
    import os

    src = LakeTable(spark, str(tmp_path / "src"))
    base = spark.createDataFrame(
        [(i, "d" + str(i % 2)) for i in range(10)], "id long, day string"
    )
    src.create(base.repartition(2), partition_by=["day"])

    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: no parquet under the clone dir, yet full content reads
    assert not clone._list_parquet()
    assert sorted(r.id for r in clone.read().collect()) == list(range(10))
    assert clone.manifest()["cloned_from"]["path"] == src.path
    assert clone.history()[0]["operation"] == "clone"

    # clone is independently writable; source snapshot is unaffected
    clone.append(
        spark.createDataFrame([(100, "d0")], "id long, day string")
    )
    assert sorted(r.id for r in clone.read().collect()) == list(range(10)) + [100]
    assert src.read().count() == 10
    # partition pruning still works across mixed roots
    d0 = clone.read(partition_filter={"day": "d0"})
    assert set(r.id for r in d0.collect()) == {0, 2, 4, 6, 8, 100}

    # clone vacuum retires only clone-rooted files
    clone.overwrite(spark.createDataFrame([(7, "d1")], "id long, day string"))
    deleted = clone.vacuum(retain_last=1)
    assert all(p.startswith(clone.path) for p in deleted)
    assert src.read().count() == 10  # source files all intact


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE semantics: content returns to the target version via a
    NEW metadata-only commit (no data movement, history preserved),
    the streaming batch_id high-water mark does NOT roll back, and a
    later vacuum keeps the restored files alive because the retained
    manifest references them."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "good")], "id long, k string"))
    t.overwrite(
        spark.createDataFrame([(2, "bad-backfill")], "id long, k string")
    )
    # streaming guard state on the LATEST version
    t.append(spark.createDataFrame([(3, "z")], "id long, k string"), extra={"batch_id": 7})
    v = t.restore(0)
    assert v == 3
    assert [r.k for r in t.read().collect()] == ["good"]
    assert t.manifest()["batch_id"] == 7  # high-water mark survives
    assert t.manifest()["restored_from"] == 0
    assert [e["operation"] for e in t.history()] == [
        "create", "overwrite", "append", "restore",
    ]
    # the restore commit references v0's file BY REFERENCE
    assert {f["path"] for f in t.manifest(3)["files"]} == {
        f["path"] for f in t.manifest(0)["files"]
    }
    # vacuum to just the restore commit: v0's file must SURVIVE
    # (referenced by the retained manifest); the bad-backfill file dies
    deleted = t.vacuum(retain_last=1)
    assert deleted, "vacuum should delete the unreferenced files"
    assert [r.k for r in t.read().collect()] == ["good"]


def test_upsert_rewrites_only_matching_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    lo = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, val string")
    hi = spark.createDataFrame([(i, f"v{i}") for i in range(100, 110)], "id long, val string")
    t.create(lo.coalesce(1))
    t.append(hi.coalesce(1))
    before = t.manifest()
    lo_file = next(f["path"] for f in before["files"] if f["stats"]["id"]["max"] < 100)

    up = spark.createDataFrame([(105, "NEW"), (200, "APPENDED")], "id long, val string")
    v = t.upsert(up, keys=["id"])
    after = t.manifest(v)

    # the low-range file was untouched: same path carried by reference
    assert lo_file in {f["path"] for f in after["files"]}
    got = {r.id: r.val for r in t.read().collect()}
    assert got[105] == "NEW" and got[200] == "APPENDED" and got[5] == "v5"
    assert len(got) == 21  # 10 + 10 + 1 appended, 105 replaced not duplicated
    # time travel still sees the pre-merge value
    old = {r.id: r.val for r in t.read(version=v - 1).collect()}
    assert old[105] == "v105" and 200 not in old


def test_upsert_null_keys_replace_not_duplicate(spark, tmp_path):
    """A NULL key must REPLACE the stored NULL-key row, not append a
    duplicate: the anti-join is null-safe (<=>) and zone-map pruning
    is disabled when the incoming batch carries a NULL key (footer
    min/max excludes nulls, so no file can be proven null-free)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame(
            [(1, "a"), (None, "old_null")], "id long, val string"
        ).coalesce(1)
    )
    t.upsert(
        spark.createDataFrame([(None, "new_null"), (2, "b")], "id long, val string"),
        keys=["id"],
    )
    got = sorted(
        ((r.id, r.val) for r in t.read().collect()),
        key=lambda p: (p[0] is None, p[0] or 0),
    )
    assert got == [(1, "a"), (2, "b"), (None, "new_null")]


def test_upsert_never_widens_a_column_type(spark, tmp_path):
    """An upsert frame with a wider type (``v long`` into ``v int``)
    that touches only some files must commit the table's type: a
    widened schema would sit over untouched files still typed ``int``,
    and reading both back fails to merge them."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(i, i) for i in range(100)], "k bigint, v int")
        .repartitionByRange(4, "k")
    )
    assert len(t.manifest()["files"]) == 4
    t.upsert(spark.createDataFrame([(5, 7)], "k long, v long"), keys=["k"])
    assert len(t.manifest()["files"]) == 4  # 3 untouched files carried over
    df = t.read()
    assert dict((f.name, f.dataType.simpleString()) for f in df.schema.fields) == {
        "k": "bigint",
        "v": "int",
    }
    assert df.count() == 100
    assert {r.k: r.v for r in df.collect()}[5] == 7


def _two_step_latest_wins(t, batch, keys, order_col):
    """The reference latest-wins MERGE in two steps: a null-safe left
    join of the batch against the stored rows, the ``stored order IS
    NULL OR batch order > stored order`` filter, then a plain upsert of
    the surviving rows (none: no commit)."""
    stored = t.read().select(
        *keys, F.col(order_col).alias("__cur_ord")
    )
    newer = (
        batch.join(stored, on=[batch[k].eqNullSafe(stored[k]) for k in keys], how="left")
        .where(F.col("__cur_ord").isNull() | (F.col(order_col) > F.col("__cur_ord")))
        .select(batch["*"])
    )
    if newer.take(1):
        t.upsert(newer, keys)


def _stored_ab_xy(spark, path):
    """A two-file table: keys a-e (``d`` with a NULL order) in one
    file, x, y and a NULL key in the other."""
    schema = "k string, ts long, v string"
    t = LakeTable(spark, path)
    t.create(
        spark.createDataFrame(
            [("a", 100, "a0"), ("b", 100, "b0"), ("c", 100, "c0"), ("d", None, "d0"),
             ("e", 100, "e0")],
            schema,
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame([("x", 100, "x0"), ("y", 100, "y0"), (None, 100, "n0")], schema)
        .coalesce(1)
    )
    return t


def _sorted_rows(df):
    return sorted(((r.k, r.ts, r.v) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "batch_rows, want",
    [
        (  # no NULL key: only the a-e file is touched, the x-y file is pruned
            [
                ("a", 200, "a1"),  # newer: batch wins
                ("b", 50, "b1"),  # older: stored stays
                ("c", 100, "c1"),  # tie: stored stays
                ("d", 10, "d1"),  # stored NULL order: batch wins
                ("e", None, "e1"),  # batch NULL order: stored stays
                ("f", 1, "f1"),  # new key: inserted
            ],
            [
                ("a", 200, "a1"), ("b", 100, "b0"), ("c", 100, "c0"), ("d", 10, "d1"),
                ("e", 100, "e0"), ("f", 1, "f1"), ("x", 100, "x0"), ("y", 100, "y0"),
                (None, 100, "n0"),
            ],
        ),
        (  # a NULL key: every file is touched, the key matches null-safely
            [(None, 200, "n1"), ("x", 50, "x1"), ("g", 5, "g1")],
            [
                ("a", 100, "a0"), ("b", 100, "b0"), ("c", 100, "c0"), ("d", None, "d0"),
                ("e", 100, "e0"), ("g", 5, "g1"), ("x", 100, "x0"), ("y", 100, "y0"),
                (None, 200, "n1"),
            ],
        ),
    ],
)
def test_upsert_order_col_matches_two_step_latest_wins(spark, tmp_path, batch_rows, want):
    """``upsert(order_col=...)`` is one conditional MERGE pass; it must
    commit exactly what the two-step path (stale filter, then a plain
    upsert) commits for every case of the winner rule."""
    schema = "k string, ts long, v string"
    t = _stored_ab_xy(spark, str(tmp_path / "t"))
    ref = t.clone_to(str(tmp_path / "ref"))
    xy_file = next(f["path"] for f in t.manifest()["files"] if f["stats"]["k"]["min"] == "x")
    batch = spark.createDataFrame(batch_rows, schema)

    v = t.upsert(batch, keys=["k"], order_col="ts")
    _two_step_latest_wins(ref, batch, ["k"], "ts")

    assert v == 2 == t.latest_version()
    assert _sorted_rows(t.read()) == _sorted_rows(ref.read()) == _sorted_rows(
        spark.createDataFrame(want, schema)
    )
    batch_has_null_key = any(k is None for k, _, _ in batch_rows)
    assert (xy_file in {f["path"] for f in t.manifest()["files"]}) != batch_has_null_key


@pytest.mark.parametrize(
    "batch_rows, want",
    [
        (  # no NULL key: the x-y file is pruned
            [
                ("a", 200, "a1"), ("a", 300, "a2"),  # both newer: the newest wins
                ("b", 150, "b2"), ("b", 50, "b1"),  # one newer, one older
                ("c", 100, "c1"), ("c", 100, "c2"), ("c", 50, "c3"),  # ties: stored stays
                ("d", None, "d1"), ("d", 10, "d2"),  # stored NULL order: the non-NULL wins
                ("e", None, "e1"), ("e", None, "e2"),  # NULL orders: stored stays
                ("f", 1, "f1"), ("f", 2, "f2"), ("f", None, "f3"),  # new key
            ],
            [
                ("a", 300, "a2"), ("b", 150, "b2"), ("c", 100, "c0"), ("d", 10, "d2"),
                ("e", 100, "e0"), ("f", 2, "f2"), ("x", 100, "x0"), ("y", 100, "y0"),
                (None, 100, "n0"),
            ],
        ),
        (  # NULL keys: every file is touched, the key matches null-safely
            [
                (None, 250, "n1"), (None, 300, "n2"), (None, None, "n3"),
                ("x", 50, "x1"), ("x", 100, "x2"),  # older and tied
                ("y", 101, "y1"), ("y", 99, "y2"),
            ],
            [
                ("a", 100, "a0"), ("b", 100, "b0"), ("c", 100, "c0"), ("d", None, "d0"),
                ("e", 100, "e0"), ("x", 100, "x0"), ("y", 101, "y1"), (None, 300, "n2"),
            ],
        ),
        (  # every row stale: nothing is committed
            [("a", 50, "a1"), ("a", 100, "a2"), ("b", None, "b1"), ("b", 99, "b2")],
            None,
        ),
    ],
)
def test_upsert_order_col_multi_row_batch_matches_latest_per_key(
    spark, tmp_path, batch_rows, want
):
    """``upsert(order_col=...)`` ranks every batch row of a key with the
    stored row in its one window, so a batch with several rows per key
    commits what ``latest_per_key`` followed by the same upsert commits
    (the streaming upsert sink's former two steps)."""
    from big_data_data_lake_spark.operators.windows import latest_per_key

    schema = "k string, ts long, v string"
    t = _stored_ab_xy(spark, str(tmp_path / "t"))
    ref = t.clone_to(str(tmp_path / "ref"))
    stored = _sorted_rows(t.read())
    batch = spark.createDataFrame(batch_rows, schema)

    v = t.upsert(batch, keys=["k"], order_col="ts")
    v_ref = ref.upsert(latest_per_key(batch, ["k"], "ts"), keys=["k"], order_col="ts")

    # the clone starts at version 0
    assert (v, v_ref) == ((1, 0) if want is None else (2, 1))
    assert (v, v_ref) == (t.latest_version(), ref.latest_version())
    assert _sorted_rows(t.read()) == _sorted_rows(ref.read())
    assert _sorted_rows(t.read()) == (
        stored if want is None else _sorted_rows(spark.createDataFrame(want, schema))
    )


def _semi_join_then_upsert(t, batch, keys, count_col):
    """The reference additive MERGE in two steps: the stored rows of
    the batch's keys (null-safe semi join), summed per key with the
    batch, then a plain upsert of the sums."""
    stored = t.read()
    batch_keys = batch.select(*keys)
    current = stored.join(
        batch_keys, on=[stored[k].eqNullSafe(batch_keys[k]) for k in keys], how="semi"
    )
    t.upsert(
        current.unionByName(batch)
        .groupBy(*keys)
        .agg(F.sum(count_col).cast("bigint").alias(count_col)),
        keys,
    )


@pytest.mark.parametrize(
    "batch_rows, want",
    [
        (  # no NULL key: only the a-b file is touched, the x-y file is pruned
            [("a", 1), ("c", 2)],
            [("a", 3), ("b", 1), ("c", 2), ("x", 3), ("y", 5), (None, 4)],
        ),
        (  # a NULL key: every file is touched, the NULL key sums null-safely
            [(None, 2), ("x", 1), ("z", 1)],
            [("a", 2), ("b", 1), ("x", 4), ("y", 5), ("z", 1), (None, 6)],
        ),
    ],
)
def test_accumulate_matches_semi_join_then_upsert(spark, tmp_path, batch_rows, want):
    """``accumulate`` is one additive MERGE pass; it must commit what
    the two-step path (semi join of the stored counts, sum, plain
    upsert) commits, sum a NULL key null-safely, and carry a file
    outside the batch's key range over by path."""
    schema = "k string, n bigint"
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([("a", 2), ("b", 1), (None, 4)], schema).coalesce(1))
    t.append(spark.createDataFrame([("x", 3), ("y", 5)], schema).coalesce(1))
    ref = t.clone_to(str(tmp_path / "ref"))
    xy_file = next(f["path"] for f in t.manifest()["files"] if f["stats"]["k"]["min"] == "x")
    batch = spark.createDataFrame(batch_rows, schema)

    v = t.accumulate(batch, ["k"], "n")
    _semi_join_then_upsert(ref, batch, ["k"], "n")

    def rows(df):
        return sorted(((r.k, r.n) for r in df.collect()), key=repr)

    assert v == 2 == t.latest_version()
    assert rows(t.read()) == rows(ref.read()) == sorted(want, key=repr)
    assert t.read().schema == ref.read().schema
    batch_has_null_key = any(k is None for k, _ in batch_rows)
    assert (xy_file in {f["path"] for f in t.manifest()["files"]}) != batch_has_null_key


def test_append_with_schema_evolution(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, k string"))
    # incompatible append rejected without the flag
    widened = spark.createDataFrame([(2, "b", 9.5)], "id long, k string, score double")
    with pytest.raises(ValueError):
        t.append(widened)
    t.append(widened, merge_schema=True)
    got = {r.id: (r.k, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    # dropping a column on a later append back-fills nulls
    t.append(spark.createDataFrame([(3, 7.0)], "id long, score double"), merge_schema=True)
    got = {r.id: (r.k, r.score) for r in t.read().collect()}
    assert got[3] == (None, 7.0)
    # type change is refused
    with pytest.raises(ValueError):
        t.append(
            spark.createDataFrame([(4, 1, 2.0)], "id long, k int, score double"),
            merge_schema=True,
        )


def test_commit_is_put_if_absent(spark, tmp_path):
    """Two writers racing on the same version: exactly one wins, and
    the loser's error does not clobber the winner's manifest (the
    exists()-then-replace formulation was TOCTOU — both writers pass
    the check and the second silently overwrites the first)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, k string"))
    man_v1 = dict(t.manifest(), marker="winner")
    t._commit(1, man_v1, "overwrite")
    with pytest.raises(FileExistsError):
        t._commit(1, dict(man_v1, marker="loser"), "overwrite")
    assert t.manifest(1)["marker"] == "winner"
    # tmp files are cleaned up on both paths
    import os
    assert not [f for f in os.listdir(t._mdir) if f.endswith(".tmp")]


def test_batch_id_survives_maintenance_commits(spark, tmp_path):
    """The streaming replay guard reads batch_id from the LATEST
    manifest; compact/overwrite/upsert between micro-batches must
    carry it forward or a replayed batch would be appended twice."""
    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(4)], "id long, val string")
    t.create(df, extra={"batch_id": 0})
    t.append(spark.createDataFrame([(10, "x")], "id long, val string"),
             extra={"batch_id": 1})
    t.compact()
    assert t.manifest()["batch_id"] == 1
    t.overwrite(df)
    assert t.manifest()["batch_id"] == 1
    t.upsert(spark.createDataFrame([(2, "NEW")], "id long, val string"), keys=["id"])
    assert t.manifest()["batch_id"] == 1
    # a real micro-batch still advances it
    t.append(spark.createDataFrame([(11, "y")], "id long, val string"),
             extra={"batch_id": 2})
    assert t.manifest()["batch_id"] == 2


@pytest.mark.parametrize(
    "op", ["append", "upsert", "upsert_order_col", "accumulate", "upsert_scd2"]
)
def test_replayed_batch_id_commits_nothing(spark, tmp_path, op):
    """A write whose ``extra`` batch id is at or below the snapshot's
    recorded ``batch_id`` is a replayed micro-batch: it writes no file,
    commits no version, leaves the rows as they are and returns the
    latest version. A compact in between keeps the mark; a higher id
    still commits."""

    def batch(day: int, keys: list[str]):
        if op == "accumulate":
            return spark.createDataFrame([(k, 1) for k in keys], "k string, n bigint")
        return spark.createDataFrame(
            [(k, f"2024-01-{day:02d}") for k in keys], "k string, ts string"
        )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(batch(1, ["a", "b"]))
    write = {
        "append": lambda df, **kw: t.append(df, **kw),
        "upsert": lambda df, **kw: t.upsert(df, ["k"], **kw),
        "upsert_order_col": lambda df, **kw: t.upsert(df, ["k"], order_col="ts", **kw),
        "accumulate": lambda df, **kw: t.accumulate(df, ["k"], "n", **kw),
        "upsert_scd2": lambda df, **kw: t.upsert_scd2(df, ["k"], "ts", **kw),
    }[op]

    def state():
        return sorted(map(repr, t.read().collect())), t._list_parquet()

    v = write(batch(2, ["a", "c2"]), extra={"batch_id": 3})
    assert v == 1 and t.manifest()["batch_id"] == 3
    committed = state()
    assert write(batch(4, ["a", "c4"]), extra={"batch_id": 3}) == v
    assert t.latest_version() == v and state() == committed
    v = t.compact()
    assert t.manifest()["batch_id"] == 3
    compacted = state()
    assert write(batch(5, ["a", "c5"]), extra={"batch_id": 2}) == v
    assert t.latest_version() == v and state() == compacted
    assert write(batch(6, ["a", "c6"]), extra={"batch_id": 4}) == v + 1
    assert t.manifest()["batch_id"] == 4 and state()[0] != compacted[0]


def test_upsert_after_schema_evolution(spark, tmp_path):
    """Upserting a table whose touched files pre-date an added column
    must read them through the evolved-schema path (null-fill), not
    fail on a missing-column select."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string").coalesce(1))
    t.append(
        spark.createDataFrame([(3, "c", 9.5)], "id long, k string, score double"),
        merge_schema=True,
    )
    # touches the v0 file (id range overlaps), which lacks `score`
    v = t.upsert(
        spark.createDataFrame([(2, "B", 1.5)], "id long, k string, score double"),
        keys=["id"],
    )
    got = {r.id: (r.k, r.score) for r in t.read(version=v).collect()}
    assert got == {1: ("a", None), 2: ("B", 1.5), 3: ("c", 9.5)}
    # an upsert with a NARROWER frame null-fills and never narrows the
    # table schema
    t.upsert(spark.createDataFrame([(4,)], "id long"), keys=["id"])
    got = {r.id: (r.k, r.score) for r in t.read().collect()}
    assert got[4] == (None, None) and got[3] == ("c", 9.5)


def test_changes_returns_only_new_rows(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, k string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, k string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, k string"))
    assert sorted(r.id for r in t.changes(0).collect()) == [2, 3]
    assert [r.id for r in t.changes(0, 1).collect()] == [2]
    assert [r.id for r in t.changes(1, 2).collect()] == [3]
    assert t.changes(2, 2).count() == 0


def test_empty_changes_read_starts_no_job(spark, tmp_path, jobs_started):
    """A read of no file is a relation the optimizer knows is empty,
    so collecting it, or a join or union against it, starts no job."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, k string"))
    empty = t.changes(0, 0)
    got = []
    assert jobs_started(lambda: got.extend(empty.collect())) == 0
    assert got == [] and empty.schema.simpleString() == "struct<id:bigint,k:string>"
    both = empty.unionByName(t.changes(0, 0)).join(t.changes(0, 0), "id")
    assert jobs_started(both.collect) == 0


def test_cluster_by_zorder_enables_multi_column_skipping(spark, tmp_path):
    """After z-ordering on (x, y), a stat_filter on EITHER column must
    prune most files; a plain x-sorted layout only helps x."""
    import pyspark.sql.functions as F

    n, files = 40_000, 16
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    plain = LakeTable(spark, str(tmp_path / "plain"))
    plain.create(df.repartitionByRange(files, "x"))
    zed = LakeTable(spark, str(tmp_path / "zed"))
    zed.create(df)
    zed.cluster_by(["x", "y"], n_files=files)

    def files_scanned(t, col):
        man = t.manifest()
        lo, hi = 10, 20  # a 5% slice of the domain
        keep = [
            f for f in man["files"]
            if not (f["stats"][col]["min"] > hi or f["stats"][col]["max"] < lo)
        ]
        return len(keep), len(man["files"])

    zx, zn = files_scanned(zed, "x")
    zy, _ = files_scanned(zed, "y")
    px, pn = files_scanned(plain, "x")
    py_, _ = files_scanned(plain, "y")
    assert zx <= zn // 2 and zy <= zn // 2   # z-order prunes BOTH dims
    assert px <= pn // 2                      # sort prunes its own column
    assert zy < py_                           # ...and is strictly worse than
                                              # z-order on the non-leading one
    # layout changed, data did not
    got = sorted((r.id, r.x, r.y) for r in zed.read().collect())
    want = sorted((r.id, r.x, r.y) for r in df.collect())
    assert got == want
    # and the pruned read returns exactly the matching rows
    pruned = zed.read(stat_filter={"y": (10, 20)}).where(F.col("y").between(10, 20))
    assert pruned.count() == df.where(F.col("y").between(10, 20)).count()


def test_expectations_fail_mode_rejects_commit(spark, tmp_path):
    """A violating batch under mode='fail' raises and commits NOTHING
    — the table's version history is unchanged."""
    from big_data_data_lake_spark.sources.metadata import (
        ExpectationViolation,
        LakeTable,
    )

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 10.0)], "id long, v double"))
    bad = spark.createDataFrame([(2, -5.0), (3, 7.0)], "id long, v double")
    import pytest as _pytest

    with _pytest.raises(ExpectationViolation) as ei:
        t.append(bad, expectations={"v_nonneg": "v >= 0", "id_set": "id IS NOT NULL"})
    assert ei.value.violations == {"v_nonneg": 1}
    assert t.latest_version() == 0 and t.row_count() == 1


def test_expectations_drop_mode_filters_and_audits(spark, tmp_path):
    """mode='drop' admits passing rows only and records per-rule
    violation counts in the committed manifest. NULL rule results
    satisfy the rule (SQL CHECK semantics) — null rows are kept."""
    from big_data_data_lake_spark.sources.metadata import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 10.0)], "id long, v double"))
    batch = spark.createDataFrame(
        [(2, -5.0), (3, 7.0), (4, None)], "id long, v double"
    )
    v = t.append(batch, expectations={"v_nonneg": "v >= 0"}, expect_mode="drop")
    man = t.manifest(v)
    assert man["expectations"] == {
        "mode": "drop",
        "violations": {"v_nonneg": 1},
    }
    got = sorted(r.id for r in t.read().collect())
    assert got == [1, 3, 4]  # -5 dropped; NULL kept


def test_expectations_fail_mode_leaves_no_file_behind(spark, tmp_path):
    """The fail-mode veto runs after the write: the files it wrote are
    deleted, so every parquet file on disk is one the manifest lists."""
    from big_data_data_lake_spark.sources.metadata import ExpectationViolation

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 10.0)], "id long, v double"))
    bad = spark.createDataFrame([(2, -5.0), (3, 7.0)], "id long, v double")
    with pytest.raises(ExpectationViolation):
        t.append(bad, expectations={"v_nonneg": "v >= 0"})
    assert t.latest_version() == 0
    assert t._list_parquet() == {f["path"] for f in t.manifest()["files"]}


def test_zero_row_file_never_enters_a_manifest(spark, tmp_path):
    """An empty write commits no file: ``create`` and ``overwrite`` of
    an empty frame, and a ``delete_where`` that empties a file, leave
    no 0-row manifest entry, and the 0-row file Spark wrote is gone
    from disk with its checksum."""
    schema = "id long, v string"
    t = LakeTable(spark, str(tmp_path / "t"))

    def check(v):
        files = t.manifest(v)["files"]
        assert all(f["rows"] > 0 for f in files)
        listed = {f["path"] for u in t.versions() for f in t.manifest(u)["files"]}
        assert t._list_parquet() == listed
        crcs = {
            os.path.join(d, n[1:-4])
            for d, _, names in os.walk(t.path)
            for n in names
            if n.endswith(".parquet.crc")
        }
        assert crcs <= listed
        return files

    assert check(t.create(spark.createDataFrame([], schema))) == []
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1))
    t.append(spark.createDataFrame([(10, "c")], schema).coalesce(1))
    assert [f["rows"] for f in check(t.delete_where("id < 10"))] == [1]
    assert sorted(r.id for r in t.read().collect()) == [10]
    assert check(t.overwrite(spark.createDataFrame([], schema))) == []
    assert t.read().count() == 0


def test_bloom_filter_point_lookup_skips_files(spark, tmp_path):
    """Bloom skipping prunes files for point lookups that zone maps
    cannot (hash-scattered keys: every file's min/max covers every
    query); results stay exact, and files appended after add_bloom
    are never skipped."""
    from big_data_data_lake_spark.sources.metadata import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, str(i % 7)) for i in range(400)], "id long, tag string"
    )
    # hash-scatter ids across 4 files so min/max ranges all overlap
    t.create(df.repartition(4, "id"))
    v = t.add_bloom("id")
    assert t.latest_version() == v

    hit = t.read(bloom_eq={"id": 123})
    assert len(hit.inputFiles()) < 4  # pruned
    assert [r.id for r in hit.where("id = 123").collect()] == [123]

    # absent key: bloom may prune everything (no false negatives ever)
    miss = t.read(bloom_eq={"id": 99999})
    assert miss.where("id = 99999").count() == 0

    # string column bloom
    t.add_bloom("tag")
    tagged = t.read(bloom_eq={"tag": "3"})
    assert tagged.where("tag = '3'").count() == len([i for i in range(400) if i % 7 == 3])

    # appended files have no bloom -> included, never wrongly skipped
    t.append(spark.createDataFrame([(1000, "x")], "id long, tag string"))
    assert t.read(bloom_eq={"id": 1000}).where("id = 1000").count() == 1


def test_norm_file_uri_matches_across_schemes():
    """ADVICE r2: bloom path matching must survive URI schemes and
    percent-encoding, or bitmaps silently attach to zero files."""
    from big_data_data_lake_spark.sources.metadata import _norm_file_uri

    assert _norm_file_uri("file:///tmp/a%20b/x.parquet") == "/tmp/a b/x.parquet"
    assert _norm_file_uri("/tmp/a b/x.parquet") == "/tmp/a b/x.parquet"
    assert (
        _norm_file_uri("hdfs://nn:8020/warehouse/t/part-0.parquet")
        == "hdfs://nn:8020/warehouse/t/part-0.parquet"
    )
    assert (
        _norm_file_uri("s3a://bucket/k%C3%A9y/p.parquet")
        == "s3a://bucket/kéy/p.parquet"
    )


def test_laketable_satisfies_tableformat_protocol(spark, tmp_path):
    """The parquet-backed LakeTable must structurally satisfy the
    TableFormat protocol — the seam a Delta/Iceberg adapter slots
    into where the jar exists (sources/format.py documents the
    coordinates and method mapping)."""
    from big_data_data_lake_spark.sources.format import TableFormat

    t = LakeTable(spark, str(tmp_path / "t"))
    assert isinstance(t, TableFormat)
    # every protocol member is a real method here, not a getattr hole
    for m in (
        "versions",
        "latest_version",
        "create",
        "append",
        "overwrite",
        "upsert",
        "read",
        "changes",
        "row_count",
        "compact",
        "vacuum",
    ):
        assert callable(getattr(t, m)), m


def test_scd2_upsert_keeps_history_and_point_in_time_reads(spark, tmp_path):
    """Type-2 merge: the matched current row closes instead of being
    replaced; read_asof() reconstructs any point in time; history
    survives even after further merges."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    t.create(
        spark.createDataFrame(
            [(1, "alice", "bronze"), (2, "bob", "silver")],
            "id long, name string, tier string",
        ).coalesce(1)
    )
    # day 1: alice upgrades
    t.upsert_scd2(
        spark.createDataFrame(
            [(1, "alice", "gold", "2024-02-01 00:00:00")],
            "id long, name string, tier string, changed string",
        ).withColumn("changed", F.col("changed").cast("timestamp")),
        keys=["id"],
        change_ts="changed",
    )
    # day 2: alice changes again, carol appears
    t.upsert_scd2(
        spark.createDataFrame(
            [
                (1, "alice", "platinum", "2024-03-01 00:00:00"),
                (3, "carol", "bronze", "2024-03-01 00:00:00"),
            ],
            "id long, name string, tier string, changed string",
        ).withColumn("changed", F.col("changed").cast("timestamp")),
        keys=["id"],
        change_ts="changed",
    )

    # current state: one open row per live key
    cur = {
        r.id: r.tier
        for r in t.read().where(F.col("__is_current")).collect()
    }
    assert cur == {1: "platinum", 2: "silver", 3: "bronze"}
    # alice has 3 versions in the data, none destroyed
    assert t.read().where("id = 1").count() == 3

    # point-in-time: mid-February sees the gold row; January the bootstrap
    feb = {r.id: r.tier for r in t.read_asof("2024-02-15 00:00:00").collect()}
    assert feb == {1: "gold", 2: "silver"}
    jan = {r.id: r.tier for r in t.read_asof("2024-01-15 00:00:00").collect()}
    assert jan == {1: "bronze", 2: "silver"}


def test_scd2_multi_row_batch_keeps_one_current_row_per_key(spark, tmp_path):
    """One ``upsert_scd2`` call with two changes of one key opens only
    the newest: the stored row closes at the newest change, and every
    point-in-time read holds one row per key."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    t.create(
        spark.createDataFrame([("a", "bronze"), ("b", "silver")], "k string, tier string")
    )
    delta = "k string, tier string, ts string"

    def merge(rows):
        df = spark.createDataFrame(rows, delta)
        return t.upsert_scd2(
            df.withColumn("ts", F.col("ts").cast("timestamp")), keys=["k"], change_ts="ts"
        )

    merge([])  # the bootstrap: every stored row becomes current
    merge([("a", "gold", "2024-01-02 00:00:00"), ("a", "platinum", "2024-01-03 00:00:00")])

    jan3 = datetime.datetime(2024, 1, 3)
    current = t.read().where("__is_current").collect()
    assert sorted((r.k, r.tier) for r in current) == [("a", "platinum"), ("b", "silver")]
    assert [r["__valid_from"] for r in current if r.k == "a"] == [jan3]
    closed = t.read().where("NOT __is_current").collect()
    assert [(r.k, r.tier, r["__valid_to"]) for r in closed] == [("a", "bronze", jan3)]
    for at in ("2024-01-02 12:00:00", "2024-01-04 00:00:00"):
        keys = [r.k for r in t.read_asof(at).collect()]
        assert sorted(keys) == ["a", "b"]
    assert {r.k: r.tier for r in t.read_asof("2024-01-04 00:00:00").collect()} == {
        "a": "platinum",
        "b": "silver",
    }


def test_scd2_null_change_ts_keeps_the_stored_row_current(spark, tmp_path):
    """A batch row with a NULL ``change_ts`` neither closes the stored
    row nor opens a version: it is shed and counted in the version's
    ``expectations`` audit, and the key keeps one current row."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    t.create(spark.createDataFrame([("a", "bronze")], "k string, tier string"))
    v = t.upsert_scd2(
        spark.createDataFrame([("a", "gold", None)], "k string, tier string, ts timestamp"),
        keys=["k"], change_ts="ts",
    )
    current = t.read().where("__is_current").collect()
    assert [(r.k, r.tier) for r in current] == [("a", "bronze")]
    assert t.manifest(v)["expectations"] == {
        "mode": "drop", "violations": {"ts_not_null": 1}
    }


def test_scd2_prunes_unmatched_files_after_bootstrap(spark, tmp_path):
    """After the bootstrap commit, a delta touching only the high key
    range must carry the low-range file over by reference."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    lo = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, val string")
    hi = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100, 110)], "id long, val string"
    )
    t.create(lo.coalesce(1))
    t.append(hi.coalesce(1))
    # bootstrap: everything rewrites (gains the SCD2 columns)
    t.upsert_scd2(
        spark.createDataFrame(
            [(105, "NEW", "2024-02-01 00:00:00")], "id long, val string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        keys=["id"],
        change_ts="ts",
    )
    before = t.manifest()
    lo_files = {
        f["path"] for f in before["files"] if f["stats"]["id"]["max"] < 100
    }
    assert lo_files
    # post-bootstrap delta in the high range only
    v = t.upsert_scd2(
        spark.createDataFrame(
            [(107, "NEWER", "2024-03-01 00:00:00")], "id long, val string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        keys=["id"],
        change_ts="ts",
    )
    after = {f["path"] for f in t.manifest(v)["files"]}
    assert lo_files <= after, "low-range files must carry over by reference"
    assert t.read().where("id = 107 AND __is_current").count() == 1
    assert t.read().where("id = 107").count() == 2


def test_scd2_bootstrap_rewrites_every_file(spark, tmp_path):
    """The bootstrap merge adds the SCD2 columns, so it must rewrite
    every file, not only those in the batch's key range: a carried-over
    file would read back NULL for ``__is_current`` and drop out of every
    current-row read."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    schema = "id long, val string"
    t.create(spark.createDataFrame([(i, f"v{i}") for i in range(10)], schema).coalesce(1))
    t.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(100, 110)], schema).coalesce(1)
    )
    before = {f["path"] for f in t.manifest()["files"]}
    v = t.upsert_scd2(
        spark.createDataFrame(
            [(105, "NEW", "2024-02-01 00:00:00")], "id long, val string, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        keys=["id"],
        change_ts="ts",
    )
    assert not before & {f["path"] for f in t.manifest(v)["files"]}
    current = t.read().where("__is_current")
    assert sorted(r.id for r in current.collect()) == list(range(10)) + list(range(100, 110))
    assert current.where("id < 10 AND __valid_from = timestamp_micros(0)").count() == 10


def test_scd2_upsert_never_widens_a_column_type(spark, tmp_path):
    """``upsert_scd2`` casts like ``upsert``: a delta with a wider type
    (``v long`` into ``v int``) that touches only some files must
    commit the table's type, or the untouched ``int`` files and the
    rewritten ``long`` file cannot be read back together."""
    t = LakeTable(spark, str(tmp_path / "dim"))
    t.create(
        spark.createDataFrame(
            [(i, i) for i in range(100)], "k bigint, v int"
        )
        .select(
            "*",
            F.timestamp_micros(F.lit(0)).alias("__valid_from"),
            F.lit(None).cast("timestamp").alias("__valid_to"),
            F.lit(True).alias("__is_current"),
        )
        .repartitionByRange(4, "k")
    )
    before = {f["path"] for f in t.manifest()["files"]}
    assert len(before) == 4
    t.upsert_scd2(
        spark.createDataFrame([(5, 7, "2024-02-01 00:00:00")], "k long, v long, ts string")
        .withColumn("ts", F.col("ts").cast("timestamp")),
        keys=["k"],
        change_ts="ts",
    )
    # 3 untouched files carried over
    assert len(before & {f["path"] for f in t.manifest()["files"]}) == 3
    df = t.read()
    assert {f.name: f.dataType.simpleString() for f in df.schema.fields[:2]} == {
        "k": "bigint",
        "v": "int",
    }
    assert df.count() == 101
    assert {r.v for r in df.where("k = 5").collect()} == {5, 7}
    assert [r.v for r in t.read_asof("2024-03-01 00:00:00").where("k = 5").collect()] == [7]


def test_delete_where_removes_rows_new_version(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    v = t.delete_where("id = 2")
    assert v == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    # time travel: the deleted row is still visible at version 0
    assert sorted(r.id for r in t.read(version=0).collect()) == [1, 2, 3]


def test_delete_where_rewrites_only_matching_files(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    before = {f["path"] for f in t.manifest()["files"]}
    # only day=2024-01-02 holds id=3; the 01-01 file must carry over
    t.delete_where("id = 3")
    after = t.manifest()["files"]
    carried = [f for f in after if f["path"] in before]
    assert carried and all(
        f["partition"].get("day") == "2024-01-01" for f in carried
    )
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, "x")], "id long, k string"
    )
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(df)
    # SQL DELETE semantics: NULL predicate result keeps the row
    t.delete_where("k = 'x'")
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_delete_where_no_match_is_noop(spark, events, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    assert t.delete_where("id = 999") == 0  # no new version
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_delete_matching_join_frame(spark, events, tmp_path):
    """r7 verdict item #3: the join-frame DELETE — removes exactly the
    rows whose key appears in the frame, rewrites only the files that
    contain a match, time travel still sees the rows, and an
    unmatched frame is a no-op (no new version)."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(events, partition_by=["day"])
    before = {f["path"] for f in t.manifest()["files"]}
    ids = spark.createDataFrame([(3,), (999,)], "id long")
    v = t.delete_matching(ids, keys=["id"])
    assert v == 1
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    assert sorted(r.id for r in t.read(version=0).collect()) == [1, 2, 3]
    # only day=2024-01-02 holds id=3; the 01-01 file carries over
    carried = [f for f in t.manifest()["files"] if f["path"] in before]
    assert carried and all(
        f["partition"].get("day") == "2024-01-01" for f in carried
    )
    # no-op: nothing matches -> no new version
    none = spark.createDataFrame([(999,)], "id long")
    assert t.delete_matching(none, keys=["id"]) == 1
    assert t.manifest()["operation"] == "delete_matching"


def test_delete_matching_null_keys_match_nullsafe(spark, tmp_path):
    """Join-frame semantics: a NULL key in the frame deletes stored
    NULL-key rows (<=>), unlike SQL DELETE's NULL-keeps-the-row."""
    df = spark.createDataFrame([(1, None), (2, "x")], "id long, k string")
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(df)
    frame = spark.createDataFrame([(None,)], "k string")
    t.delete_matching(frame, keys=["k"])
    assert sorted(r.id for r in t.read().collect()) == [2]


def test_history_records_operations(spark, events, tmp_path):
    """history() must list one entry per version with the OUTERMOST
    public mutator stamped as the operation — compact reads as
    'compact', not the overwrite it rides on."""
    t = LakeTable(spark, str(tmp_path / "hist"))
    t.create(events.repartition(3))
    t.append(events.limit(2))
    t.compact()
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert [e["operation"] for e in h] == ["create", "append", "compact"]
    assert h[1]["rows"] > h[0]["rows"]
    assert all(e["n_files"] >= 1 for e in h)
    # every data commit stamps its operation metrics, and they agree
    # with the file sets of consecutive manifests
    t.upsert(events.where("id = 1").withColumn("v", F.lit(99.0)), keys=["id"])
    t.delete_where("id = 2")
    h = t.history()
    assert [e["operation"] for e in h[3:]] == ["upsert", "delete_where"]
    prev: dict = {}
    for e in h:
        files = {f["path"]: f["bytes"] for f in t.manifest(e["version"])["files"]}
        added = files.keys() - prev.keys()
        assert e["files_added"] == len(added) > 0
        assert e["files_removed"] == len(prev.keys() - files.keys())
        assert e["bytes_added"] == sum(files[p] for p in added) > 0
        prev = files
    assert h[3]["files_removed"] == h[4]["files_removed"] == 1


def test_crash_debris_invisible_to_readers_and_vacuumed(spark, events, tmp_path):
    """Crash consistency: a writer that dies mid-commit leaves (a) a
    torn temp manifest and (b) orphaned data files. Readers must never
    see either; the next commit must proceed; vacuum must sweep both."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path)
    t.create(events)
    before = t.read().count()

    # simulate the crash: torn (invalid-JSON) temp manifest + an
    # orphan parquet the dead writer had staged but never committed
    mdir = os.path.join(path, "_manifest")
    torn = os.path.join(mdir, ".v1.json.deadbeef.tmp")
    with open(torn, "w") as fh:
        fh.write('{"files": [')  # truncated mid-write
    orphan = os.path.join(path, "part-orphan-from-dead-writer.parquet")
    events.limit(1).toPandas().to_parquet(orphan)

    # readers: same rows, same versions — debris is invisible
    assert t.read().count() == before
    assert t.versions() == [0]

    # the next writer is unaffected by the torn tmp (fresh uuid name)
    t.append(events)
    assert t.read().count() == 2 * before

    deleted = t.vacuum(retain_last=1)
    assert torn in deleted and orphan in deleted
    assert not os.path.exists(torn) and not os.path.exists(orphan)
    # table still reads after the sweep
    assert t.read().count() == 2 * before


def test_quantizer_codebooks_roundtrip_through_lake_versions(spark, tmp_path):
    """Production maintenance story for the hierarchical quantizer:
    the coarse and fine codebooks are TABLES (maintained with the
    archive, versioned like any lake asset — the posture
    incremental_semantic_novelty's docstring assumes). Land both
    codebooks as LakeTable versions, reload them, and assert the
    reloaded codebooks drive the exact same assignment as the frames
    they were built from — codebook persistence can never drift the
    cells. Also prove an APPEND-evolved codebook (a re-trained fine
    level committed as the next version) changes assignment through
    time travel, i.e. yesterday's version still reproduces
    yesterday's cells."""
    from big_data_data_lake_spark.operators import similarity as sim
    from big_data_data_lake_spark.sources.metadata import LakeTable

    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", sim.to_double("embedding").alias("v"))
    )
    coarse_rows = e.orderBy("vec_id").limit(4).select("v").collect()
    cassign = sim.assign_nearest_centroid(
        e, [r.v for r in coarse_rows], out_col="ccen"
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("ccen").orderBy("vec_id")
    fine = (
        cassign.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("ccen", (F.col("rn") - 1).cast("int").alias("fcen"),
                F.col("v").alias("fv"))
    )

    # land both codebooks as lake tables
    ct = LakeTable(spark, str(tmp_path / "coarse_codebook"))
    ct.create(
        spark.createDataFrame(
            [(i, r.v) for i, r in enumerate(coarse_rows)], "cen int, cv array<double>"
        )
    )
    ft = LakeTable(spark, str(tmp_path / "fine_codebook"))
    v_fine0 = ft.create(fine)

    # reload and re-assign: identical cells
    reloaded_coarse = [
        r.cv for r in ct.read().orderBy("cen").collect()
    ]
    ca2 = sim.assign_nearest_centroid(e, reloaded_coarse, out_col="ccen")
    fa_direct = {
        (r.vec_id): (r.ccen, r.fcen)
        for r in sim.assign_fine_within_cell(cassign, fine).collect()
    }
    fa_reload = {
        (r.vec_id): (r.ccen, r.fcen)
        for r in sim.assign_fine_within_cell(
            ca2, ft.read(v_fine0).select("ccen", "fcen", "fv")
        ).collect()
    }
    assert fa_direct == fa_reload

    # retrain: append a third fine centroid per cell as a new version
    extra = (
        cassign.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 3)
        .select("ccen", F.lit(2).cast("int").alias("fcen"),
                F.col("v").alias("fv"))
    )
    v_fine1 = ft.append(extra)
    fa_new = {
        r.vec_id: (r.ccen, r.fcen)
        for r in sim.assign_fine_within_cell(
            ca2, ft.read(v_fine1).select("ccen", "fcen", "fv")
        ).collect()
    }
    # time travel to v0 still reproduces yesterday's cells exactly
    fa_old = {
        r.vec_id: (r.ccen, r.fcen)
        for r in sim.assign_fine_within_cell(
            ca2, ft.read(v_fine0).select("ccen", "fcen", "fv")
        ).collect()
    }
    assert fa_old == fa_direct
    assert fa_new != fa_direct  # the retrain is visible at the head
    # and the retrained assignment only ever uses fcen in {0,1,2}
    assert {f for _, f in fa_new.values()} <= {0, 1, 2}


def test_append_never_narrows_nullability(spark, tmp_path):
    """A non-nullable frame appending into a nullable table column
    must NOT narrow the committed schema to nullable=false (round-9
    advice): older committed files may hold nulls, and a later
    nullable append of the same shape must stay accepted regardless
    of append order."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    nullable_schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("k", StringType(), True),
        ]
    )
    t = LakeTable(spark, str(tmp_path / "t"))
    # v0 holds an actual NULL in k under a nullable schema
    t.create(spark.createDataFrame([(1, None), (2, "b")], nullable_schema))

    # literal-built frames carry nullable=false — the exact shape the
    # narrowing bug was triggered by
    tight = spark.range(3, 4).select(
        F.col("id"), F.lit("c").alias("k")
    )
    assert not tight.schema["k"].nullable  # precondition: df IS narrow
    t.append(tight)

    # committed schema must still say nullable=true for k ...
    committed = StructType.fromJson(t.manifest()["schema_json"])
    assert committed["k"].nullable, "append narrowed the table schema"
    # ... the v0 null row must read back intact under the head schema
    rows = {r.id: r.k for r in t.read().collect()}
    assert rows == {1: None, 2: "b", 3: "c"}
    # ... and a nullable append afterwards stays accepted (no
    # order-dependent acceptance)
    t.append(spark.createDataFrame([(4, None)], nullable_schema))
    assert t.read().where(F.col("k").isNull()).count() == 2


def test_merge_schema_new_column_committed_nullable(spark, tmp_path):
    """merge_schema-new columns must commit nullable=true even when
    the appended frame's column is non-nullable: every pre-existing
    file reads back NULL for them."""
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.range(2).select(F.col("id")))
    widened = spark.range(2, 4).select(
        F.col("id"), F.lit(7).cast("long").alias("extra")
    )
    assert not widened.schema["extra"].nullable
    t.append(widened, merge_schema=True)
    committed = StructType.fromJson(t.manifest()["schema_json"])
    assert committed["extra"].nullable
    got = {r.id: r.extra for r in t.read().collect()}
    assert got == {0: None, 1: None, 2: 7, 3: 7}


@pytest.mark.parametrize("op", ["upsert", "upsert_order_col", "upsert_scd2", "accumulate"])
def test_empty_merge_batch_carries_every_file(spark, tmp_path, op):
    """An empty MERGE batch has no key range and no NULL key, so it
    touches no file: every file carries over by path, no file is
    written, and the row count is unchanged. The version still
    commits, so the streaming batch_id is recorded."""
    t = LakeTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024-01-01") for i in range(2000)],
        "id long, val string, ts string",
    )
    if op == "accumulate":
        df = df.select("id", F.lit(1).cast("bigint").alias("n"))
    t.create(df.repartition(3))
    merge = {
        "upsert": lambda batch, **kw: t.upsert(batch, keys=["id"], **kw),
        "upsert_order_col": lambda batch, **kw: t.upsert(
            batch, keys=["id"], order_col="ts", **kw
        ),
        "upsert_scd2": lambda batch, **kw: t.upsert_scd2(
            batch, keys=["id"], change_ts="ts", **kw
        ),
        "accumulate": lambda batch, **kw: t.accumulate(
            batch, keys=["id"], count_col="n", **kw
        ),
    }[op]
    if op == "upsert_scd2":
        merge(df.limit(0))  # the first SCD2 merge adds the history columns
    before = t.manifest()
    assert len(before["files"]) >= 3
    v = merge(df.limit(0), extra={"batch_id": 5})
    after = t.manifest(v)
    assert v == t.latest_version() and after["batch_id"] == 5
    assert {f["path"] for f in after["files"]} == {f["path"] for f in before["files"]}
    assert after["rows"] == before["rows"] == 2000
    assert t.read().count() == 2000


def _first_sink_commit(op, batch):
    """What the streaming sink's first micro-batch committed before a
    keyed MERGE could create its table: the upsert sink's
    ``latest_per_key``, the aggregate sink's per-key counts and the
    SCD2 sink's newest rows opened from their change time. A plain
    upsert inserts every batch row."""
    from big_data_data_lake_spark.operators.windows import latest_per_key

    if op == "upsert":
        return batch
    if op == "accumulate":
        return batch.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    winners = latest_per_key(batch, ["k"], "ts")
    if op == "upsert_order_col":
        return winners
    return winners.select(
        "*",
        F.col("ts").alias("__valid_from"),
        F.lit(None).cast("timestamp").alias("__valid_to"),
        F.lit(True).alias("__is_current"),
    )


@pytest.mark.parametrize("op", ["upsert", "upsert_order_col", "accumulate", "upsert_scd2"])
def test_keyed_merge_into_missing_path_creates_version_0(spark, tmp_path, op):
    """A keyed MERGE on a path with no table merges into an empty
    snapshot and commits version 0 as ``create``: the same rows the
    streaming sink's first batch committed, in-batch duplicate keys
    and a NULL key included. An empty first batch commits version 0
    with no file and the merged frame's schema (an SCD2 table's
    includes its validity columns, so ``read_asof`` reads it), and the
    next MERGE fills it. ``append`` still needs an existing table."""
    rows = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", "a1"), ("a", "2024-01-03 00:00:00", "a3"),
            ("a", "2024-01-02 00:00:00", "a2"), ("b", "2024-01-01 00:00:00", "b1"),
            (None, "2024-01-02 00:00:00", "n2"), (None, "2024-01-01 00:00:00", "n1"),
        ],
        "k string, ts string, v string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    if op == "accumulate":  # the aggregate sink's batch: a count of 1 per row
        rows = rows.select("k", F.lit(1).cast("bigint").alias("n"))

    def merge(t, batch, **kw):
        return {
            "upsert": lambda: t.upsert(batch, ["k"], **kw),
            "upsert_order_col": lambda: t.upsert(batch, ["k"], order_col="ts", **kw),
            "accumulate": lambda: t.accumulate(batch, ["k"], "n", **kw),
            "upsert_scd2": lambda: t.upsert_scd2(batch, ["k"], "ts", **kw),
        }[op]()

    def table_rows(t):
        df = t.read()
        return sorted(map(repr, df.collect())), [(f.name, f.dataType) for f in df.schema]

    want = LakeTable(spark, str(tmp_path / "want"))
    want.create(_first_sink_commit(op, rows))

    t = LakeTable(spark, str(tmp_path / "t"))
    assert merge(t, rows, extra={"batch_id": 0}) == 0
    assert [h["operation"] for h in t.history()] == ["create"]
    assert t.manifest()["batch_id"] == 0
    assert table_rows(t) == table_rows(want)

    e = LakeTable(spark, str(tmp_path / "e"))
    assert merge(e, rows.limit(0), extra={"batch_id": 0}) == 0
    assert [h["operation"] for h in e.history()] == ["create"]
    assert e.manifest()["files"] == [] and e._list_parquet() == set()
    schema = StructType.fromJson(e.manifest()["schema_json"])
    assert [(f.name, f.dataType) for f in schema] == [
        (f.name, f.dataType) for f in want.read().schema
    ]
    if op == "upsert_scd2":
        assert e.read_asof("2024-01-02 00:00:00").count() == 0
    assert merge(e, rows) == 1
    assert table_rows(e) == table_rows(want)

    with pytest.raises(FileNotFoundError):
        LakeTable(spark, str(tmp_path / "missing")).append(rows)


@pytest.mark.parametrize(
    "op",
    ["append", "overwrite", "upsert", "upsert_order_col", "upsert_scd2", "delete_matching"],
)
def test_stale_snapshot_commit_fails_instead_of_dropping_files(
    spark, tmp_path, monkeypatch, op
):
    """Each mutator commits at its snapshot's version + 1. When another
    writer commits between the snapshot and the commit, the commit
    fails with the named put-if-absent error; it must never commit a
    file set that drops the other writer's rows."""
    path = str(tmp_path / "t")

    def rows(lo, n):
        return spark.createDataFrame(
            [(i, f"v{i}") for i in range(lo, lo + n)], "id long, val string"
        )

    LakeTable(spark, path).create(rows(0, 100))
    writer, competitor = LakeTable(spark, path), LakeTable(spark, path)
    write_files = writer._write_files

    def racing_write(df, partition_by):
        competitor.append(rows(1000, 50))
        return write_files(df, partition_by)

    monkeypatch.setattr(writer, "_write_files", racing_write)
    # "w" sorts after every stored "v<i>", so the order_col batch wins
    newer = rows(50, 10).withColumn("val", F.lit("w"))
    change = rows(50, 10).withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
    mutate = {
        "append": lambda: writer.append(rows(2000, 10)),
        "overwrite": lambda: writer.overwrite(rows(2000, 10)),
        "upsert": lambda: writer.upsert(rows(50, 10), ["id"]),
        "upsert_order_col": lambda: writer.upsert(newer, ["id"], order_col="val"),
        "upsert_scd2": lambda: writer.upsert_scd2(change, ["id"], "ts"),
        "delete_matching": lambda: writer.delete_matching(rows(0, 10), ["id"]),
    }[op]
    with pytest.raises(FileExistsError, match="version 1"):
        mutate()
    assert competitor.latest_version() == 1
    got = {r.id for r in competitor.read().collect()}
    assert got == set(range(100)) | set(range(1000, 1050))


def _evolved(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, "a")], "id long, k string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "id long, k string, score double"),
        merge_schema=True,
    )
    return t, {(1, "a", None), (2, "b", 9.5)}


def _partitioned(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(
        spark.createDataFrame([(1, 3), (2, 4)], "id long, day int"), partition_by=["day"]
    )
    return t, {(1, 3), (2, 4)}


def _clone(spark, tmp_path):
    src, rows = _partitioned(spark, tmp_path)
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.append(spark.createDataFrame([(5, 3)], "id long, day int"))
    return clone, rows | {(5, 3)}


@pytest.mark.parametrize("make", [_evolved, _partitioned, _clone])
def test_read_is_built_without_a_job(spark, tmp_path, jobs_started, make):
    """A snapshot read takes its schema from the manifest, so building
    it starts no schema-inference job: on an evolved table (the older
    file lacks ``score`` and reads it back NULL), a partitioned one
    (``day`` comes from the path, typed as the manifest says) and a
    shallow clone that reads files under two roots."""
    t, want = make(spark, tmp_path)
    frames = []
    assert jobs_started(lambda: frames.append(t.read())) == 0
    got = frames[0]
    declared = StructType.fromJson(t.manifest()["schema_json"])
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in declared.fields
    ]
    assert {tuple(r) for r in got.collect()} == want
