"""Vectorized build tokenizer must emit the EXACT row set of the
reference-semantics twin (VERDICT r1 #3: bit-identical postings)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from sphinxsearchengine_spark.index.builder import (
    _batch_postings_columns,
    _tokenize_batch_ref,
)


def _vectorized_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """_batch_postings_columns as one row per posting: pos_blob sliced
    into per-posting pos_vb bytes by pos_len."""
    out = _batch_postings_columns(pdf)
    ends = np.cumsum(out["pos_len"])
    starts = ends - out["pos_len"]
    buf = out.pop("pos_blob")
    del out["pos_len"]
    out["pos_vb"] = [buf[a:b] for a, b in zip(starts.tolist(), ends.tolist())]
    return pd.DataFrame(out)


def _canon(frames: list[pd.DataFrame]) -> pd.DataFrame:
    df = pd.concat(frames, ignore_index=True)
    df["pos_hex"] = df["pos_vb"].map(bytes.hex)
    df = df.drop(columns=["pos_vb"])
    return (
        df.sort_values(["docid", "field", "term"])
        .reset_index(drop=True)
    )


def _doc_batch(rows) -> pd.DataFrame:
    return pd.DataFrame(
        rows,
        columns=[
            "docid", "path", "lang", "content", "category_search",
            "date_insert", "date_modify",
        ],
    )


def test_vectorized_equals_reference_on_corpus(spark):
    from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus

    docs = derive_documents(generate_corpus(spark, 250, partitions=2)).select(
        "docid", "path", "lang", "content", "category_search",
        "date_insert", "date_modify",
    )
    pdf = docs.toPandas()
    got = _canon([_vectorized_rows(pdf)])
    want = _canon(list(_tokenize_batch_ref(iter([pdf]))))
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize(
    "text",
    [
        "",                                  # empty field
        "x y z",                             # all sub-min-length
        "foo_bar baz -dash- a_b_c __cat__",  # blends incl. edge blends
        "Running Searches ПОИСК Запросы",    # stems + Cyrillic fold
        "foo_ba foo_ba foo-ba $x @y",        # repeats + short blends
        "a1-b2&c3+d4@e5$f6_g7",              # every blend char
        "café café résumé",  # T7: NFC + NFD spellings
    ],
)
def test_vectorized_equals_reference_edge_cases(text):
    rows = [
        (1, "src/p.py", "python", text, "__cat__ __python__", 100, 200),
        (2, "", "go", "plain words only here", "", 300, 400),
    ]
    pdf = _doc_batch(rows)
    got = _canon([_vectorized_rows(pdf)])
    want = _canon(list(_tokenize_batch_ref(iter([pdf]))))
    pd.testing.assert_frame_equal(got, want)


def test_vectorized_empty_batch():
    pdf = _doc_batch([])
    assert len(_vectorized_rows(pdf)) == 0
