"""Packed-exchange build (index/packed.py) against the pure-Python
reference tokenizer: the written postings rows (all columns incl.
positions and attrs) must equal the rows of
``builder._tokenize_batch_ref``, and blockmax and dict must equal those
rows rolled up in pandas with the manifest's ``block_shift``.  The
manifest must record the measured shuffle volume."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus
from sphinxsearchengine_spark.index.builder import (
    _tokenize_batch_ref,
    build_index,
)
from sphinxsearchengine_spark.index.layout import IndexLayout

SEG = "seg_00000"
POSTING_COLS = ["term", "field", "docid", "tf", "exact_tf",
                "pos_vb", "lang", "date_insert", "date_modify"]


def _rows(df: pd.DataFrame, cols) -> list[tuple]:
    """Sorted plain-Python tuples (binary as bytes) of ``df[cols]``."""
    out = [
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else
              v.item() if isinstance(v, np.generic) else v
              for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    out.sort()
    return out


def _stored(spark, path) -> pd.DataFrame:
    return spark.read.parquet(path).toPandas()


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("packed") / "idx")
    docs = derive_documents(generate_corpus(spark, 400, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=4), salt_factor=2)
    # reference rows from the docs table the tokenize stage read
    src = spark.read.parquet(IndexLayout(idx).docs(SEG)).select(
        "docid", "path", "lang", "content", "category_search",
        "date_insert", "date_modify",
    ).toPandas()
    ref = pd.concat(list(_tokenize_batch_ref(iter([src]))), ignore_index=True)
    with open(IndexLayout(idx).manifest(SEG)) as fh:
        manifest = json.load(fh)
    return idx, ref, manifest


def test_postings_identical(spark, built):
    idx, ref, _ = built
    got = _stored(spark, IndexLayout(idx).postings(SEG))
    assert len(got) == len(ref) > 0
    assert _rows(got, POSTING_COLS) == _rows(ref, POSTING_COLS)
    # each term lives in ONE bucket, and every file is one sorted run
    # of (term, field, docid) — what readers merge per bucket
    assert (got.groupby("term")["bucket"].nunique() == 1).all()
    for f in glob.glob(os.path.join(IndexLayout(idx).postings(SEG), "*", "*.parquet")):
        t = pq.read_table(f, columns=["term", "field", "docid"]).to_pandas()
        keys = list(t.itertuples(index=False, name=None))
        assert keys == sorted(keys), f


def _ref_blockmax(ref: pd.DataFrame, block_shift: int) -> pd.DataFrame:
    r = ref.assign(
        fbit=np.int64(1) << ref["field"].to_numpy(np.int64),
        dsum=ref["date_insert"] + ref["date_modify"],
    )
    per_doc = r.groupby(["term", "docid"], as_index=False).agg(
        tfd=("tf", "sum"), etfd=("exact_tf", "sum"),
        fmask=("fbit", lambda s: int(np.bitwise_or.reduce(s.to_numpy()))),
        dsum=("dsum", "max"),
    )
    per_doc["blk"] = (
        per_doc["docid"].to_numpy(np.int64).astype(np.uint64)
        >> np.uint64(block_shift)
    ).astype(np.int64)
    per_doc["has_exact"] = (per_doc["etfd"] > 0).astype(np.int64)
    return per_doc.groupby(["term", "blk"], as_index=False).agg(
        n=("docid", "size"), hits=("tfd", "sum"), max_tf=("tfd", "max"),
        n_exact=("has_exact", "sum"), sum_etf=("etfd", "sum"),
        max_etf=("etfd", "max"),
        fmask=("fmask", lambda s: int(np.bitwise_or.reduce(s.to_numpy()))),
        max_dsum=("dsum", "max"),
    )


def test_blockmax_and_dict_identical(spark, built):
    idx, ref, manifest = built
    lay = IndexLayout(idx)
    block_shift = manifest["stages"]["blockmax"]["block_shift"]
    want_bmx = _ref_blockmax(ref, block_shift)
    want_dic = want_bmx.groupby("term", as_index=False).agg(
        df=("n", "sum"), hits=("hits", "sum"), max_tf=("max_tf", "max"),
        exact_df=("n_exact", "sum"), exact_hits=("sum_etf", "sum"),
    )
    got_bmx = _stored(spark, lay.blockmax(SEG))
    got_dic = _stored(spark, lay.dict(SEG))
    for got, want in ((got_bmx, want_bmx), (got_dic, want_dic)):
        cols = [c for c in got.columns if c != "bucket"]
        assert sorted(cols) == sorted(want.columns)
        assert len(got) > 0
        assert _rows(got, cols) == _rows(want, cols)
    # all three tables agree on each term's bucket (the query path takes
    # it from dict and scans that postings / blockmax bucket)
    post = _stored(spark, lay.postings(SEG))[["term", "bucket"]].drop_duplicates()
    for other in (got_bmx, got_dic):
        pairs = other[["term", "bucket"]].drop_duplicates()
        assert _rows(pairs, ["term", "bucket"]) == _rows(post, ["term", "bucket"])


def test_packed_shuffles_fewer_bytes(built):
    """The exchange ships grouped rows: far fewer records than postings."""
    _, ref, manifest = built
    post = manifest["stages"]["postings"]
    assert post["packed"] is True
    assert 0 < post["shuffle_write_records"] < 0.5 * len(ref), (
        post["shuffle_write_records"], len(ref))
    assert post["shuffle_bytes_per_doc"] > 0


def test_salt_and_term_hash_are_uniform():
    """Sanity on the Python-side partition keys: splitmix64 salts and
    md5 term buckets spread ~uniformly (no reducer pinned by key skew
    from the hash itself)."""
    from sphinxsearchengine_spark.index.packed import (
        salt_of_docid, term_hashes,
    )

    rng = np.random.RandomState(5)
    docids = rng.randint(-(2**62), 2**62, size=20000).astype(np.int64)
    s = salt_of_docid(docids, 4)
    counts = np.bincount(s, minlength=4)
    assert counts.min() > 0.8 * counts.max()
    terms = [f"term{i}" for i in range(20000)]
    b = (term_hashes(terms) % np.uint64(16)).astype(int)
    bc = np.bincount(b, minlength=16)
    assert bc.min() > 0.7 * bc.max()
