"""End-to-end curation pipeline: raw documents -> quality gate ->
near-dup dedup -> split routing -> audited lake tables. Asserts the
retention funnel is consistent with the standalone queries, splits
partition the survivors exactly, and the lake tables carry the
expectation audit."""

from __future__ import annotations

from big_data_data_lake_spark.pipeline import curate_corpus
from big_data_data_lake_spark.queries import load_all
from big_data_data_lake_spark.sources.metadata import LakeTable

SF = "/root/testdata/sf0.001"
REGISTRY = load_all()


def test_curate_corpus_end_to_end(spark, tmp_path):
    out = str(tmp_path / "curated")
    stats = curate_corpus(spark, SF, out)

    # funnel consistency: quality-gate count equals the funnel query's
    # terminal stage; dedup removes at least the known near-dup pairs
    funnel = {
        r["stage"]: r["n_docs"]
        for r in REGISTRY["curation_funnel"].fn(spark, SF).collect()
    }
    assert stats["stages"]["raw"] == funnel["ingested"]
    assert stats["stages"]["quality_gated"] == funnel["quality_pass"]
    assert stats["stages"]["deduped"] <= stats["stages"]["quality_gated"]

    # splits partition the survivors exactly (no loss, no overlap)
    assert sum(stats["splits"].values()) == stats["stages"]["deduped"]
    ids = {}
    for split in ("train", "val", "test"):
        t = LakeTable(spark, f"{out}/{split}")
        ids[split] = {r.doc_id for r in t.read().select("doc_id").collect()}
        man = t.manifest()
        assert man["expectations"]["mode"] == "drop"
        assert man["partition_by"] == ["lang"]
    assert not (ids["train"] & ids["val"]) and not (ids["train"] & ids["test"])

    # no two survivors in the same output are near-dups of each other
    pairs = REGISTRY["audit_ngram_jaccard_pairs"].fn(spark, SF).collect()
    all_ids = ids["train"] | ids["val"] | ids["test"]
    for r in pairs:
        assert not (r["d1"] in all_ids and r["d2"] in all_ids), (r["d1"], r["d2"])

    # deterministic: a second run routes identically
    stats2 = curate_corpus(spark, SF, str(tmp_path / "curated2"))
    assert stats2 == stats

    # re-running onto the SAME output versions the tables (time travel
    # to the prior snapshot still works) instead of failing
    stats3 = curate_corpus(spark, SF, out)
    assert stats3["versions"] == {s: 1 for s in ("train", "val", "test")}
    assert stats3["splits"] == stats["splits"]
    t = LakeTable(spark, f"{out}/train")
    assert t.read(version=0).count() == t.read(version=1).count()


def test_survivor_pick_respects_upstream_gate(spark):
    """A cluster whose raw-corpus minimum failed the quality gate must
    still keep its best GATED member — picking representatives from
    the raw corpus would silently drop the whole cluster."""
    from big_data_data_lake_spark.pipeline import survivor_filter

    gated = spark.createDataFrame([(9, "keep"), (12, "solo")], "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(5, 5), (9, 5), (12, 12)], "doc_id long, cluster long"  # 5 failed the gate
    )
    got = sorted(r.doc_id for r in survivor_filter(gated, clusters).collect())
    assert got == [9, 12]


def test_corrupt_wav_falls_back_not_crashes():
    """A WAV whose fmt chunk declares 0 channels must downgrade to the
    raw-PCM fallback instead of ZeroDivisionError-ing the task."""
    from big_data_data_lake_spark.operators import multimodal as mm

    fmt = (
        (1).to_bytes(2, "little") + (0).to_bytes(2, "little")  # channels=0
        + (8000).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + (4).to_bytes(4, "little") + b"\x00\x01\x02\x03"
    blob = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
    x, rate = mm._as_mono_float(blob)  # u8 fallback path
    assert rate == 8000 and len(x) == len(blob)
