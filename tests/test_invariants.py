"""Engine invariants (SURVEY §5.4 / FIXTURES.md):
- per-row sha256(content) equality across materialization boundaries
  (the reference's decode-must-succeed integrity check),
- postings within every block strictly ascending by doc_id,
- df stored on blocks == total decoded postings of the term,
- doc_len in every posting == the doc's true token count."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokenize_py,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
)


@pytest.fixture(scope="module")
def built(spark, corpus_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("invidx"))
    corpus = with_doc_id(corpus_df)
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8, block_size=16)
    return corpus, SegmentIndex.open(spark, d)


def test_content_sha_survives_materialization(spark, corpus_pdf, tmp_path):
    """write→read round-trip must not alter content (per-row sha)."""
    src_sha = {
        (r["repo"], r["path"], r["commit"]):
            hashlib.sha256(r["content"].encode()).hexdigest()
        for _, r in corpus_pdf.iterrows()
    }
    p = str(tmp_path / "roundtrip")
    spark.createDataFrame(corpus_pdf).write.parquet(p)
    back = spark.read.parquet(p).withColumn(
        "sha", F.sha2(F.col("content"), 256)
    ).collect()
    assert len(back) == len(src_sha)
    for r in back:
        assert r["sha"] == src_sha[(r["repo"], r["path"], r["commit"])]


def test_blocks_ascending_and_df_consistent(spark, built):
    corpus, idx = built
    rows = idx.segments().collect()
    per_term_postings: dict[str, int] = {}
    per_term_df: dict[str, int] = {}
    for r in rows:
        ids, tfs, dls = r["doc_ids"], r["tfs"], r["dls"]
        assert list(ids) == sorted(set(ids)), f"{r['term']}: not ascending"
        assert ids[0] == r["doc_id_lo"] and ids[-1] == r["doc_id_hi"]
        assert len(ids) == len(tfs) == len(dls) == r["n_docs"]
        assert max(tfs) <= r["max_tf"] and min(dls) >= r["min_dl"]
        per_term_postings[r["term"]] = per_term_postings.get(r["term"], 0) + len(ids)
        per_term_df[r["term"]] = r["df"]
    for term, n in per_term_postings.items():
        assert per_term_df[term] == n, f"{term}: df {per_term_df[term]} != {n}"


def test_doc_len_matches_tokenizer(spark, built, corpus_pdf):
    corpus, idx = built
    truth = {}
    ids = corpus.select("repo", "path", "commit", "doc_id").collect()
    key2id = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in ids}
    for _, row in corpus_pdf.iterrows():
        truth[key2id[(row["repo"], row["path"], row["commit"])]] = len(
            tokenize_py(row["content"])
        )
    for r in idx.doc_lens().collect():
        assert truth[r["doc_id"]] == r["doc_len"]
    # and inside the blocks
    for r in idx.segments().collect():
        for d, dl in zip(r["doc_ids"], r["dls"]):
            assert truth[int(d)] == int(dl)
