"""Snapshot GC: vacuum removes unreferenced generations and expired
snapshots while every kept snapshot stays fully queryable."""

from __future__ import annotations

import os

import pytest

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
    restore,
    snapshot_log,
    vacuum,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
    segment_topk,
)


def test_vacuum_keeps_current_queryable(spark, corpus_pdf, update_fixtures, tmp_path):
    d = str(tmp_path / "vacidx")
    corpus = with_doc_id(spark.createDataFrame(corpus_pdf))
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8, block_size=16)
    add_pdf, del_pdf = update_fixtures
    apply_updates(spark, d, add_corpus=spark.createDataFrame(add_pdf))   # v2
    apply_updates(spark, d, delete_keys=spark.createDataFrame(del_pdf))  # v3

    before = segment_topk(
        SegmentIndex.open(spark, d),
        spark.createDataFrame([("q", "uniq00010doc")], "query_id string, text string"),
        k=3,
    ).collect()

    report = vacuum(d, keep_last=2)
    assert 3 in report["kept_versions"]
    assert 1 in report["removed_versions"]
    assert [s["version"] for s in snapshot_log(d)] == [2, 3]

    # current snapshot still answers identically
    after = segment_topk(
        SegmentIndex.open(spark, d),
        spark.createDataFrame([("q", "uniq00010doc")], "query_id string, text string"),
        k=3,
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in before] == [
        (r["doc_id"], r["score"]) for r in after
    ]

    # kept older snapshot (v2) also still opens and queries
    restore(d, 2)
    assert SegmentIndex.open(spark, d).version == 2
    assert segment_topk(
        SegmentIndex.open(spark, d),
        spark.createDataFrame([("q", "rewritten0mark")], "query_id string, text string"),
        k=1,
    ).count() == 1
    restore(d, 3)

    # expired snapshot must be gone
    with pytest.raises(FileNotFoundError):
        restore(d, 1)
    assert not os.path.exists(f"{d}/snapshots/v1.json")

def _ranked(rows):
    return [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"]))]


def test_vacuum_reclaims_committed_doc_terms_staging(
        spark, corpus_pdf, queries_df, update_fixtures, tmp_path):
    """Snapshots reference only posting blocks: once build, upsert and
    compact have committed, vacuum(keep_last=1) leaves no ``dt_*``
    staging dir behind, and the compacted index still serves WAND
    top-k equal to brute force."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        compact,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    d = str(tmp_path / "vacdt")
    corpus = with_doc_id(spark.createDataFrame(corpus_pdf))
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8, block_size=16)
    add_pdf, del_pdf = update_fixtures
    apply_updates(spark, d, add_corpus=spark.createDataFrame(add_pdf),
                  delete_keys=spark.createDataFrame(del_pdf))     # v2
    assert compact(spark, d).snapshot_version == 3
    for snap in snapshot_log(d):
        assert all(set(e) == {"segments"} for e in snap["buckets"].values())

    vacuum(d, keep_last=1)
    assert [s["version"] for s in snapshot_log(d)] == [3]
    assert [n for n in os.listdir(f"{d}/data") if n.startswith("dt_")] == []

    idx = SegmentIndex.open(spark, d)
    want = _ranked(segment_topk(idx, queries_df, k=5).collect())
    assert want
    assert _ranked(wand_topk(idx, queries_df, k=5).collect()) == want


def test_old_format_snapshot_opens_compacts_and_vacuums(
        spark, corpus_pdf, queries_df, update_fixtures, tmp_path):
    """A snapshot whose bucket maps also name the generation's
    doc_terms (the format before snapshots kept only posting blocks)
    still opens and serves, compacts into a blocks-only snapshot, and
    vacuum keeps the doc_terms dirs it names while it is kept."""
    import json

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        compact,
    )

    d = str(tmp_path / "oldfmt")
    corpus = with_doc_id(spark.createDataFrame(corpus_pdf))
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8, block_size=16)
    add_pdf, del_pdf = update_fixtures
    apply_updates(spark, d, add_corpus=spark.createDataFrame(add_pdf),
                  delete_keys=spark.createDataFrame(del_pdf))     # v2
    want = _ranked(segment_topk(SegmentIndex.open(spark, d), queries_df,
                                k=5).collect())

    def old_form(bmap):
        return {b: {"doc_terms": e["segments"].replace("/seg_", "/dt_"),
                    "segments": e["segments"]} for b, e in bmap.items()}

    for v in (1, 2):
        path = f"{d}/snapshots/v{v}.json"
        snap = json.load(open(path))
        snap["buckets"] = old_form(snap["buckets"])
        for layer in snap.get("layers") or []:
            layer["buckets"] = old_form(layer["buckets"])
        json.dump(snap, open(path, "w"))

    assert _ranked(segment_topk(SegmentIndex.open(spark, d), queries_df,
                                k=5).collect()) == want
    assert compact(spark, d).snapshot_version == 3
    v3 = SegmentIndex.open(spark, d)
    assert not v3.has_deltas
    assert all(set(e) == {"segments"} for e in v3.snapshot["buckets"].values())
    assert _ranked(segment_topk(v3, queries_df, k=5).collect()) == want

    vacuum(d, keep_last=3)  # v1 and v2 kept: their doc_terms stay
    assert os.path.isdir(f"{d}/data/dt_init")
    assert os.path.isdir(f"{d}/data/dt_u2")
    vacuum(d, keep_last=1)
    assert not os.path.exists(f"{d}/data/dt_init")
    assert _ranked(segment_topk(SegmentIndex.open(spark, d), queries_df,
                                k=5).collect()) == want
