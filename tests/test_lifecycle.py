"""Lifecycle tests (SURVEY.md §5.4): build → upsert → delete → purge →
compact, visibility semantics matching the reference's REPLACE/DELETE
contract, exact rank-identity after compaction."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import (
    PINNED_NOW,
    derive_documents,
    generate_corpus,
)
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.index.lifecycle import (
    compact,
    delete,
    purge_orphans,
    upsert,
)
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query.executor import search, score_matches

N = 120
CFG = EngineConfig(term_buckets=8)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("life") / "idx")
    docs = derive_documents(generate_corpus(spark, N, partitions=4))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    return idx, docs


def _match_set(spark, idx, q):
    return {r.docid for r in score_matches(spark, idx, q, now_ts=PINNED_NOW).collect()}


def test_full_lifecycle(spark, env, tmp_path):
    idx, docs = env
    target = docs.orderBy("docid").limit(1).collect()[0]
    tid = target.docid

    # --- S3 upsert: replace one doc's content ---------------------------
    updated = docs.withColumn(
        "content",
        F.when(F.col("docid") == tid, F.lit("upserttoken fresh body")).otherwise(
            F.col("content")
        ),
    ).withColumn(
        "content_sha",
        F.when(
            F.col("docid") == tid, F.sha2(F.lit("upserttoken fresh body"), 256)
        ).otherwise(F.col("content_sha")),
    )
    batch = updated.filter(F.col("docid") == tid)
    meta = upsert(spark, idx, batch, CFG)
    assert meta.n_docs == N  # replace, not insert

    assert _match_set(spark, idx, "upserttoken") == {tid}
    # edit is visible: old content no longer matches for this doc
    hot = _match_set(spark, idx, "hotterm")
    assert tid not in hot or "hotterm" in "upserttoken fresh body"

    # hydration returns the NEW sha (newest segment wins)
    row = search(spark, idx, "upserttoken", limit=1, now_ts=PINNED_NOW).collect()[0]
    assert row.docid == tid
    import hashlib

    assert row.content_sha == hashlib.sha256(b"upserttoken fresh body").hexdigest()

    # --- S3 insert: brand-new doc ---------------------------------------
    new_doc = (
        batch.withColumn("docid", F.lit(999_999_999_001))
        .withColumn("content", F.lit("brandnewtoken appears here"))
        .withColumn("content_sha", F.sha2(F.lit("brandnewtoken appears here"), 256))
    )
    meta = upsert(spark, idx, new_doc, CFG)
    assert meta.n_docs == N + 1
    assert _match_set(spark, idx, "brandnewtoken") == {999_999_999_001}

    # --- S4 delete --------------------------------------------------------
    meta = delete(spark, idx, [tid])
    assert meta.n_docs == N
    assert _match_set(spark, idx, "upserttoken") == set()
    # idempotent delete
    meta = delete(spark, idx, [tid])
    assert meta.n_docs == N

    # --- S5 purge orphans ---------------------------------------------------
    # source of truth no longer contains the synthetic new doc
    source_ids = docs.select("docid").filter(F.col("docid") != tid)
    meta, n_purged = purge_orphans(spark, idx, source_ids)
    assert n_purged == 1  # the brand-new doc was orphaned
    assert _match_set(spark, idx, "brandnewtoken") == set()
    # purge is idempotent
    _, n_again = purge_orphans(spark, idx, source_ids)
    assert n_again == 0

    # --- S6 compact: match sets preserved, stats exactified ----------------
    pre_hot = _match_set(spark, idx, "hotterm")
    pre_total = IndexLayout(idx).meta.n_docs
    meta = compact(spark, idx, CFG)
    assert len(meta.segments) == 1
    assert meta.n_docs == pre_total == N - 1
    assert _match_set(spark, idx, "hotterm") == pre_hot

    # exact rank-identity vs oracle on the final state
    final_docs = updated.filter(F.col("docid") != tid)
    oracle = OracleEngine(final_docs.toPandas())
    for q in ["hotterm", "index search", '"alpha beta"']:
        got = search(spark, idx, q, limit=15, now_ts=PINNED_NOW).collect()
        want = oracle.search(q, limit=15, now_ts=PINNED_NOW)
        assert [r.docid for r in got] == [w["docid"] for w in want], q
        for r, w in zip(got, want):
            assert math.isclose(r.score, w["score"], rel_tol=1e-9), (q, r.docid)


def test_build_resume(spark, tmp_path):
    """North rule: builds resume from per-stage lineage manifests."""
    import json

    idx = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 60, partitions=2))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    man_path = IndexLayout(idx).manifest("seg_00000")
    manifest = json.load(open(man_path))
    assert set(manifest["stages"]) == {"docs", "postings", "blockmax", "dict"}

    # simulate a crash after 'docs': wipe the completed-flag of later stages
    for st in ["postings", "blockmax", "dict"]:
        manifest["stages"].pop(st)
    json.dump(manifest, open(man_path, "w"))
    before = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    # re-run build: 'docs' stage must be skipped (manifest says done),
    # later stages re-run; results identical
    from sphinxsearchengine_spark.index.builder import build_segment

    stages = build_segment(spark, docs, idx, "seg_00000", CFG, salt_factor=2)
    assert stages["docs"]["ok"] and stages["postings"]["ok"]
    after = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    assert [r.docid for r in before] == [r.docid for r in after]
    assert [r.score for r in before] == [r.score for r in after]


def _files_digest(path: str) -> list[tuple[str, str]]:
    """(directory, sha256) of every data file under ``path``, sorted
    (file names left out: Spark's writer puts a per-job id in them)."""
    import glob
    import hashlib
    import os

    out = []
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        with open(p, "rb") as fh:
            out.append((os.path.relpath(os.path.dirname(p), path),
                        hashlib.sha256(fh.read()).hexdigest()))
    return sorted(out)


def test_build_resume_old_manifest(spark, tmp_path):
    """A manifest with 'postings' but no 'blockmax' (written before the
    two stages were committed together) re-runs the fused stage; the
    postings come out byte-identical and search is unchanged."""
    import json

    from sphinxsearchengine_spark.index.builder import build_segment

    idx = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 60, partitions=2))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    layout = IndexLayout(idx)
    man_path = layout.manifest("seg_00000")
    with open(man_path) as fh:
        manifest = json.load(fh)
    post_ts = manifest["stages"]["postings"]["ts"]
    digest = _files_digest(layout.postings("seg_00000"))
    assert digest
    before = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()

    for st in ["blockmax", "dict"]:
        manifest["stages"].pop(st)
    with open(man_path, "w") as fh:
        json.dump(manifest, fh)
    stages = build_segment(spark, docs, idx, "seg_00000", CFG, salt_factor=2)

    assert set(stages) == {"docs", "postings", "blockmax", "dict"}
    assert stages["postings"]["ts"] > post_ts  # the fused stage re-ran
    assert stages["blockmax"]["ts"] == stages["postings"]["ts"]
    assert _files_digest(layout.postings("seg_00000")) == digest
    after = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
