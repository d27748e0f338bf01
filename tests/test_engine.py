"""End-to-end build + search, rank-identity engine vs pure-Python oracle
(SURVEY.md §5.3, north-rule criterion)."""

from __future__ import annotations

import math

import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import (
    PINNED_NOW,
    derive_documents,
    generate_corpus,
)
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query.executor import search, search_with_meta

N_DOCS = 300


@pytest.fixture(scope="session")
def index_env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("idx"))
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=8), salt_factor=2)
    oracle = OracleEngine(docs.toPandas())
    return idx, oracle


QUERIES = [
    dict(query="engine"),
    dict(query="index search"),
    dict(query="hotterm"),
    dict(query="needleuniq"),
    # one keyword entering a group's mapping twice scores once
    dict(query="needleuniq|needleuniq"),        # repeated word
    dict(query="needleuni|needleuniq"),         # word + its prefix expansion
    dict(query='needleuniq|"needleuniq hotterm"'),  # word + phrase member
    dict(query='"alpha beta"'),
    dict(query='merge|"alpha beta"'),          # kw OR phrase (ADVICE r1)
    dict(query='"alpha beta"|"index search"'),  # phrase OR phrase
    dict(query='hotterm|"alpha beta" engine'),  # mixed OR + AND unit
    dict(query='@category_search "__python__"|"__go__"'),  # reference category filter shape
    dict(query="=running"),
    dict(query="=search"),  # stem-identical surface → exact_tf row path
    dict(query="=search =running index"),
    dict(query="pars*"),
    dict(query="searches | merge"),
    dict(query="поиск"),
    dict(query="engine", langs=["python", "go"]),
    dict(query="engine", categories=["python", "go"]),     # Q14 + category group
    dict(query="index search", categories=["org0/repo1"]),  # repo category (multi-part mangle)
    dict(query="index", order_by="date_insert", sort="asc"),
    dict(query="index", order_by="date_modify", sort="desc"),
    dict(query="engine", offset=5, limit=10),
    dict(query="@title file_1*"),
    dict(query="build_index"),
    dict(query="!!! ()"),  # blank guard
    dict(query="zzzzneverexists"),
]


@pytest.mark.parametrize("q", QUERIES, ids=[str(q) for q in QUERIES])
def test_rank_identity(spark, index_env, q):
    idx, oracle = index_env
    kw = dict(q)
    query = kw.pop("query")
    kw.setdefault("limit", 20)
    kw.setdefault("now_ts", PINNED_NOW)
    got = search(spark, idx, query, **kw).collect()
    want = oracle.search(query, **kw)
    assert [r.docid for r in got] == [w["docid"] for w in want]
    for r, w in zip(got, want):
        assert math.isclose(r.score, w["score"], rel_tol=1e-9, abs_tol=1e-12), (
            r.docid, r.score, w["score"])
        assert r.rank == w["rank"]


def test_content_sha_invariant(spark, index_env):
    """Per-row invariant: returned content_sha matches sha256 of source
    content (BASELINE.json input_hint)."""
    import hashlib

    idx, _ = index_env
    res = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    content = {r.docid: r.content for r in docs.collect()}
    assert res
    for r in res:
        assert hashlib.sha256(content[r.docid].encode()).hexdigest() == r.content_sha


def test_meta_stats(spark, index_env):
    idx, oracle = index_env
    res, meta = search_with_meta(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW)
    assert meta["total"] == len(oracle.score_matches("hotterm", now_ts=PINNED_NOW))
    assert meta["keywords"][0]["keyword"] == "hotterm"
    assert meta["keywords"][0]["docs"] > 0
    assert meta["time"] > 0  # SHOW META time row (measured, never scored)
