"""Pre-tokenized postings paths (round-6 optimization): a segment
build fed ``doc_terms_df`` and an update fed ``add_doc_terms`` must
produce identical segments (every posting array) and identical
snapshot stats to the tokenize paths — the frames are the same postings, so everything
downstream (encode, df, salts, block bounds) must not move."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    build_doc_terms,
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
)


def _seg_fingerprint(spark, index_dir):
    """Order-independent digest of every block's posting arrays + the
    snapshot stats that feed scoring."""
    idx = SegmentIndex.open(spark, index_dir)
    arrays = [c for c in ("doc_ids", "tfs", "dls", "positions")
              if c in idx.segments(None).columns]
    rows = sorted(
        (
            r["bucket"], r["term"], r["salt"], r["block_seq"],
            r["df"], r["n_docs"], r["h"],
        )
        for r in idx.segments(None).select(
            "bucket", "term", "salt", "block_seq", "df", "n_docs",
            F.sha2(F.to_json(F.struct(*arrays)), 256).alias("h"),
        ).collect()
    )
    snap = idx.snapshot
    return rows, (snap["n_docs"], snap.get("sum_dl"), snap["avgdl"])


def test_doc_terms_df_build_identical(spark, corpus_df, tmp_path):
    corpus = with_doc_id(corpus_df)
    d_tok = str(tmp_path / "tok")
    d_pre = str(tmp_path / "pre")
    kw = dict(n_buckets=2, hot_df=8, block_size=16, store_positions=True)
    build_segment_index(spark, corpus, d_tok, **kw)
    dt = build_doc_terms(corpus, with_positions=True)
    build_segment_index(spark, None, d_pre, doc_terms_df=dt, **kw)
    assert _seg_fingerprint(spark, d_pre) == _seg_fingerprint(spark, d_tok)


def test_add_doc_terms_update_identical(spark, corpus_df, tmp_path):
    corpus = with_doc_id(corpus_df)
    ids = [r["doc_id"] for r in
           corpus.select("doc_id").orderBy("doc_id").limit(10).collect()]
    base = corpus.filter(~F.col("doc_id").isin(ids[:5]))
    batch = corpus.filter(F.col("doc_id").isin(ids))  # 5 new + 5 overwrite

    def build_and_update(d, pretokenized):
        build_segment_index(spark, base, d, n_buckets=2, hot_df=8,
                            block_size=16)
        apply_updates(
            spark, d, add_corpus=batch, mode="delta", explicit_ids=True,
            assume_unique=True,
            add_doc_terms=(
                build_doc_terms(batch, with_positions=False)
                if pretokenized else None
            ),
        )

    d_tok = str(tmp_path / "utok")
    d_pre = str(tmp_path / "upre")
    build_and_update(d_tok, pretokenized=False)
    build_and_update(d_pre, pretokenized=True)
    assert _seg_fingerprint(spark, d_pre) == _seg_fingerprint(spark, d_tok)


def test_build_without_input_raises(spark, tmp_path):
    """Neither a corpus nor pre-tokenized postings: a contract error at
    entry, before anything is written."""
    d = str(tmp_path / "none")
    with pytest.raises(ValueError, match="corpus or a doc_terms_df"):
        build_segment_index(spark, None, d, n_buckets=2, block_size=16)
    assert not os.path.exists(d)


def test_add_doc_terms_without_add_corpus_raises(spark, corpus_df, tmp_path):
    """add_doc_terms alone would be silently ignored (the batch keys
    come from add_corpus): reject it instead of committing an update
    that drops the caller's postings."""
    corpus = with_doc_id(corpus_df)
    d = str(tmp_path / "idx")
    build_segment_index(spark, corpus, d, n_buckets=2, hot_df=8,
                        block_size=16)
    with pytest.raises(ValueError, match="add_corpus"):
        apply_updates(
            spark, d, mode="delta", explicit_ids=True,
            add_doc_terms=build_doc_terms(corpus, with_positions=False),
        )
    assert SegmentIndex.open(spark, d).version == 1
