"""The workloads. Each takes the seed from the ``Bench`` and hands the
engine only generated inputs: corpora from ``distributed_corpus`` and
query / update frames built here.

- ``ingest_serve``: timed bulk build, one delta upsert (new keys,
  overwrites, deletes), closed-loop k=1 lookups on the re-opened
  layered snapshot, then ``compact`` and every lookup again, batched,
  on the compacted snapshot through ``wand_topk`` and
  ``segment_topk``.
- ``batch_rank``: 64-query batches of common words, k=10, through both
  ``wand_topk`` and ``segment_topk`` over a single-layer index, then
  one delta upsert and a ``compact`` of that index.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
    maintenance,
    segments,
    wand,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
    local_rows_df,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
    distributed_corpus,
)

from harness import Bench

# Short documents: the common terms occur in nearly every doc, so each
# spans ~N_DOCS / 128 blocks at the default block size and block-max
# pruning has room to work, at a build cost set by the token count.
N_DOCS = 5000
MIN_LEN, MAX_LEN = 20, 60
WARM_DOCS = 500       # the untimed warm-up build
BATCH_QUERIES, BATCH_K = 64, 10
MIN_BATCHES = 3       # an odd count: the median WAND batch is a real sample
MIN_LOOKUPS = 5       # new, overwritten and deleted doc, a needle, a Nil
COMMON_TERMS = 64
NEW_DOCS, OVERWRITES, DELETES = 60, 30, 10   # rows of the delta upsert
VOCAB, ZIPF_EXPONENT = 5000, 1.1

QUERY_SCHEMA = "query_id string, text string"
KEY = ("repo", "path", "commit")


# -- inputs -----------------------------------------------------------------
def make_corpus(b: Bench, n: int, seed: int, start: int = 0):
    """Cached corpus frame plus a pandas copy carrying each row's
    expected ``doc_id = xxhash64(repo, path, commit)``."""
    df = distributed_corpus(b.spark, n, seed=seed, min_len=MIN_LEN,
                            max_len=MAX_LEN, start=start).cache()
    pdf = df.select(*KEY, "content",
                    F.xxhash64(*KEY).alias("doc_id")).toPandas()
    return df, pdf


def new_words(content: str, old: str = "") -> list[str]:
    """The distinct words of ``content`` other than its ``uniq...doc``
    token that ``old`` (an earlier version of the doc) lacks."""
    return sorted(set(content.split()) - set(old.split())
                  - {uniq_token(content)})


def uniq_token(content: str) -> str:
    return next(w for w in content.split() if w.startswith("uniq"))


def needle(content: str, old: str = "") -> str:
    """A document's ``uniq...doc`` token plus its three most common
    words, whose long posting lists block-max pruning can skip; with
    ``old``, words the earlier version lacks, so that only the current
    version matches every term."""
    # tokNNNN sorts by Zipf rank
    return " ".join([uniq_token(content)] + new_words(content, old)[:3])


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_EXPONENT
    c = p.cumsum()
    return c / c[-1]


ZIPF_CDF = _zipf_cdf()


NIL_TERMS = 8         # each in roughly half of the docs or more
NIL_CDF = ZIPF_CDF[:NIL_TERMS] / ZIPF_CDF[NIL_TERMS - 1]


def nil_query(rng: np.random.RandomState) -> str:
    """Four Zipf draws over the most common terms: words, but from no
    document, whose long posting lists have block maxima so alike that
    block-max pruning has little to skip."""
    ids = NIL_CDF.searchsorted(rng.random_sample(4), side="right")
    return " ".join(f"tok{i:04d}" for i in ids)


def common_query(rng: np.random.RandomState) -> str:
    """Six words drawn from the most common terms: every query touches
    long posting lists, so block-max pruning has little to skip."""
    ids = rng.randint(0, COMMON_TERMS, size=6)
    return " ".join(f"tok{i:04d}" for i in ids)


# -- checks -----------------------------------------------------------------
def _close(a: float, c: float) -> bool:
    return abs(a - c) <= 1e-9 * max(1.0, abs(a), abs(c))


def by_query(rows) -> dict[str, list[tuple[int, float, int]]]:
    """``(doc_id, score, matched_terms)`` per query, by rank."""
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        out.setdefault(r.query_id, []).append(
            (r.doc_id, r.score, r.matched_terms))
    return out


def same_ranking(a: list, c: list, k: int, tie_at_k: bool = False) -> bool:
    """Same scores rank by rank, and the same docs in each group of tied
    scores: scores equal within rounding may come out in either order
    (the paths sum in different orders). With ``tie_at_k`` the group
    that reaches rank k may hold different docs: the tie runs past rank
    k, so each path may keep another share of it."""
    if len(a) != len(c) or not all(
            _close(x[1], y[1]) for x, y in zip(a, c)):
        return False
    start = 0
    for i in range(1, len(a) + 1):
        if i == len(a) or not _close(a[i][1], a[i - 1][1]):
            exempt = tie_at_k and i == k
            if not exempt and sorted(x[0] for x in a[start:i]) != sorted(
                    x[0] for x in c[start:i]):
                return False
            start = i
    return True


def disagreeing(b: Bench, ix, pairs: dict, texts: dict, k: int) -> list:
    """Query ids whose two answers ``pairs[q] = (a, c)`` disagree. Where
    they differ only in the docs of the group that reaches rank k, one
    untimed ``segment_topk`` call with k+1 tells whether that tie runs
    past rank k, which is the one case where both answers are right."""
    bad = sorted(q for q, (a, c) in pairs.items()
                 if not same_ranking(a, c, k))
    unsure = [q for q in bad if same_ranking(*pairs[q], k, tie_at_k=True)]
    if unsure:
        qdf = local_rows_df(b.spark, [(q, texts[q]) for q in unsure],
                            QUERY_SCHEMA)
        more = by_query(segments.segment_topk(ix, qdf, k=k + 1).collect())
        tied = {q for q in unsure if len(more.get(q, [])) > k
                and _close(more[q][k][1], more[q][k - 1][1])}
        bad = [q for q in bad if q not in tied]
    return bad


# -- layer calls ------------------------------------------------------------
def build(b: Bench, corpus, index_dir: str, n_docs: int) -> float:
    """One timed bulk build; returns its wall time."""
    rep, op, wall = b.timed(
        "build", lambda: segments.build_segment_index(
            b.spark, corpus, index_dir))
    b.check(op, rep.snapshot_version == 1 and rep.n_docs == n_docs,
            f"build committed v{rep.snapshot_version} with {rep.n_docs} "
            f"docs, want v1 with {n_docs}")
    t = rep.timings or {}
    b.layer_extra["build.tokenize_s"] += t.get("phase_a_doc_terms", 0.0)
    b.layer_extra["build.doc_lens_s"] += t.get("phase_a_doc_lens", 0.0)
    b.layer_extra["build.encode_s"] += t.get("phase_b_segments", 0.0)
    b.layer_extra["build.index_mb"] += _dir_bytes(index_dir) / 2**20
    return wall


def open_index(b: Bench, index_dir: str):
    ix, _, _ = b.timed("open",
                       lambda: segments.SegmentIndex.open(b.spark, index_dir))
    return ix


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def lookup(b: Bench, ix, qid: str, text: str, cls: str):
    """One k=1 ``wand_topk`` query of the serving loop."""
    qdf = local_rows_df(b.spark, [(qid, text)], QUERY_SCHEMA)
    rows, op, wall = b.timed(
        "wand", lambda: wand.wand_topk(ix, qdf, k=1).collect(), kind=cls)
    b.ranked(1, wall, wand=True)
    b.count_blocks(cls, rows)
    b.check(op, len(rows) == 1, f"{qid}: {len(rows)} rows, want 1")
    return op, by_query(rows).get(qid, [])


# -- ingest_serve -----------------------------------------------------------
def _live_docs(pdf) -> dict[int, str]:
    return dict(zip(pdf.doc_id.astype(int), pdf.content))


def _upsert_inputs(b: Bench, rng, base_pdf):
    """The delta batch: new keys, overwrites of existing keys (same keys,
    another seed) and a few deletes of other base keys."""
    new_df, new_pdf = make_corpus(b, NEW_DOCS, b.seed + 1000, start=N_DOCS)
    start = int(rng.randint(0, N_DOCS - OVERWRITES))
    over_df, over_pdf = make_corpus(b, OVERWRITES, b.seed + 2000,
                                    start=start)
    others = base_pdf[~base_pdf.doc_id.isin(over_pdf.doc_id)]
    gone = others.iloc[sorted(rng.choice(len(others), DELETES,
                                         replace=False))]
    del_df = local_rows_df(
        b.spark, [tuple(r) for r in gone[list(KEY)].itertuples(index=False)],
        "repo string, path string, commit string")
    return new_df.unionByName(over_df), new_pdf, over_pdf, gone, del_df


def upsert(b: Bench, rng, index_dir: str, base_pdf):
    """One timed delta upsert over the base corpus ``base_pdf``; returns
    its wall time, the live docs after it (``doc_id -> content``), and
    the new, overwritten and deleted rows."""
    add_df, new_pdf, over_pdf, gone, del_df = _upsert_inputs(
        b, rng, base_pdf)
    rep, op, wall = b.timed("upsert", lambda: maintenance.apply_updates(
        b.spark, index_dir, add_corpus=add_df, delete_keys=del_df,
        mode="delta"))
    add_df.unpersist()
    live = _live_docs(base_pdf)
    live.update(_live_docs(new_pdf))
    live.update(_live_docs(over_pdf))
    for i in gone.doc_id.astype(int):
        del live[i]
    b.layer_extra["upsert.buckets_built"] += len(rep.built_buckets)
    b.check(op, rep.n_docs == len(live),
            f"upsert: {rep.n_docs} live docs, want {len(live)}")
    return wall, live, new_pdf, over_pdf, gone


def compact(b: Bench, index_dir: str) -> float:
    """One timed ``compact`` of a one-delta snapshot; returns its wall
    time."""
    rep, op, wall = b.timed("compact",
                            lambda: maintenance.compact(b.spark, index_dir))
    b.layer_extra["compact.layers_merged"] += rep.n_layers_merged
    b.check(op, rep.n_layers_merged == 1,
            f"compact merged {rep.n_layers_merged} layers, want 1")
    return wall


def _serving_queries(rng, live: dict[int, str], old: dict[int, str],
                     new_pdf, over_pdf, gone):
    """``(class, text, doc_id)``: a new doc, an overwritten doc and a
    deleted doc first, then live needles alternating with Nil queries.
    The overwritten doc's needle (class ``over``) uses words its old
    version lacks."""
    row = new_pdf.iloc[int(rng.randint(len(new_pdf)))]
    yield "needle", needle(row.content), int(row.doc_id)
    over = [(int(d), c) for d, c in zip(over_pdf.doc_id, over_pdf.content)
            if len(new_words(c, old[int(d)])) >= 3]
    d, c = over[int(rng.randint(len(over)))]
    yield "over", needle(c, old=old[d]), d
    row = gone.iloc[0]
    yield "gone", needle(row.content), int(row.doc_id)
    ids = sorted(live)
    while True:
        i = ids[int(rng.randint(len(ids)))]
        yield "needle", needle(live[i]), i
        yield "nil", nil_query(rng), None


def _check_answer(b: Bench, op: int, qid: str, cls: str, text: str,
                  doc_id, got):
    """A needle's rank 1 is its source, matching every query term (a
    stale version of an overwritten doc lacks some); a deleted doc must
    not come back; a Nil query has no source to check."""
    hit = bool(got) and got[0][0] == doc_id
    if cls in ("needle", "over"):
        n_terms = len(set(text.split()))
        b.check(op, hit, f"{qid}: rank 1 is not the needle's source")
        b.check(op, hit and got[0][2] == n_terms,
                f"{qid}: rank 1 matched {got[0][2] if got else 0} of "
                f"{n_terms} terms")
    elif cls == "gone":
        b.check(op, not hit, f"{qid}: a deleted doc came back")


def ingest_serve(b: Bench) -> dict:
    rng = np.random.RandomState(b.seed)
    corpus, pdf = make_corpus(b, N_DOCS, b.seed)
    warm_dir = _warm_build(b)
    qdf = local_rows_df(b.spark, [("warm", nil_query(rng))], QUERY_SCHEMA)
    wand.wand_topk(segments.SegmentIndex.open(b.spark, warm_dir), qdf,
                   k=1).collect()
    segments.drop_index(warm_dir)

    index_dir = os.path.join(b.tmp, "live")
    b.start_timing()
    write_walls = [build(b, corpus, index_dir, N_DOCS)]
    corpus.unpersist()
    wall, live, new_pdf, over_pdf, gone = upsert(b, rng, index_dir, pdf)
    write_walls.append(wall)
    old = _live_docs(pdf)

    # closed loop on the re-opened layered snapshot for the run's seconds
    ix = open_index(b, index_dir)
    served = []
    t0 = time.monotonic()
    for n, (cls, text, doc_id) in enumerate(_serving_queries(
            rng, live, old, new_pdf, over_pdf, gone)):
        if n >= MIN_LOOKUPS and time.monotonic() - t0 >= b.seconds:
            break
        op, got = lookup(b, ix, f"q{n}", text, "layered")
        _check_answer(b, op, f"q{n}", cls, text, doc_id, got)
        served.append((cls, text, doc_id, got))

    write_walls.append(compact(b, index_dir))
    # every served query again, in one call per path on the compacted
    # snapshot: the same answers as on the layered snapshot before it
    ix = open_index(b, index_dir)
    texts = {f"q{n}": s[1] for n, s in enumerate(served)}
    qdf = local_rows_df(b.spark, sorted(texts.items()), QUERY_SCHEMA)
    rows, op, _ = b.timed(
        "wand", lambda: wand.wand_topk(ix, qdf, k=1).collect(), kind="final")
    brute, bop, _ = b.timed(
        "brute", lambda: segments.segment_topk(ix, qdf, k=1).collect(),
        kind="final")
    final, brute = by_query(rows), by_query(brute)
    for n, (cls, text, doc_id, _) in enumerate(served):
        qid = f"q{n}"
        b.count_blocks(cls, [r for r in rows if r.query_id == qid])
        _check_answer(b, op, qid, cls, text, doc_id, final.get(qid, []))
    before = {f"q{n}": s[3] for n, s in enumerate(served)}
    for name, other, ops in (("layered", before, (op,)),
                             ("brute force", brute, (op, bop))):
        bad = disagreeing(b, ix, {q: (final.get(q, []), other.get(q, []))
                                  for q in texts}, texts, k=1)
        diff = [(q, final.get(q), other.get(q)) for q in bad[:3]]
        for o in ops:
            b.check(o, not bad, f"compacted wand and {name} differ: {diff}")
    b.stop_timing()
    segments.drop_index(index_dir)
    return {"write_walls": write_walls,
            "index_docs": N_DOCS + NEW_DOCS + OVERWRITES + DELETES}


def _warm_build(b: Bench) -> str:
    """Untimed: build a small corpus of other docs, so first-use costs
    (worker imports, JIT, codegen) are paid in set-up; returns the
    index dir."""
    warm_dir = os.path.join(b.tmp, "warm")
    corpus = distributed_corpus(b.spark, WARM_DOCS, seed=b.seed + 3000,
                                min_len=MIN_LEN, max_len=MAX_LEN)
    segments.build_segment_index(b.spark, corpus, warm_dir)
    return warm_dir


# -- batch_rank -------------------------------------------------------------
def batch_rank(b: Bench) -> dict:
    rng = np.random.RandomState(b.seed)
    corpus, pdf = make_corpus(b, N_DOCS, b.seed)
    # the base build is set-up: it also pays the first-use costs
    index_dir = os.path.join(b.tmp, "base")
    build(b, corpus, index_dir, N_DOCS)
    corpus.unpersist()
    ix = open_index(b, index_dir)

    def batch(tag: str):
        texts = {f"{tag}-{q}": common_query(rng)
                 for q in range(BATCH_QUERIES)}
        return local_rows_df(b.spark, sorted(texts.items()),
                             QUERY_SCHEMA), texts

    warm, _ = batch("warm")  # untimed: first batch through both paths
    wand.wand_topk(ix, warm, k=BATCH_K).collect()
    segments.segment_topk(ix, warm, k=BATCH_K).collect()

    b.start_timing()
    j = 0
    while j < MIN_BATCHES or b.time_left():
        qdf, texts = batch(f"b{j}")
        out = {}
        # alternate which path runs first, so neither always runs warm
        for layer in (("wand", "brute") if j % 2 == 0 else ("brute", "wand")):
            fn = (wand.wand_topk if layer == "wand"
                  else segments.segment_topk)
            rows, op, wall = b.timed(
                layer, lambda: fn(ix, qdf, k=BATCH_K).collect(),
                kind="batch")
            b.ranked(BATCH_QUERIES, wall, wand=layer == "wand")
            out[layer] = (op, by_query(rows))
            if layer == "wand":
                b.count_blocks("batch", rows)
        (wop, w), (bop, x) = out["wand"], out["brute"]
        bad = disagreeing(b, ix, {q: (w.get(q, []), x.get(q, []))
                                  for q in texts}, texts, BATCH_K)
        ok = not bad and len(w) == len(x) == BATCH_QUERIES
        for op in (wop, bop):
            b.check(op, ok, f"batch {j}: {len(w)} answered, wand and "
                            f"brute differ on {bad[:3]}")
        j += 1
    b.stop_timing()
    # refresh the ranked index with the same kind of delta as
    # ingest_serve: this workload's write path
    write_walls = [upsert(b, rng, index_dir, pdf)[0], compact(b, index_dir)]
    segments.drop_index(index_dir)
    return {"write_walls": write_walls,
            "index_docs": NEW_DOCS + OVERWRITES + DELETES}


WORKLOADS = {"ingest_serve": ingest_serve, "batch_rank": batch_rank}


def ingest_docs_per_s(summary: dict) -> float:
    """Documents written (bulk-built docs and delta rows) per second of
    index-write wall time: build + delta upsert + compact on
    ingest_serve, delta upsert + compact on batch_rank."""
    return summary["index_docs"] / sum(summary["write_walls"])
