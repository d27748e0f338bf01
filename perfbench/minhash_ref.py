"""NumPy reference for the ``dedup_minhash_lsh`` gate entry.

It computes what ``__spark_entry__.oracle_sql()["dedup_minhash_lsh"]``
computes, with the same tokens, shingle hashes, permutations, bands and
threshold, but in uint64 wrap-around arithmetic instead of DuckDB's
UHUGEINT.  The SQL oracle costs about 33 ms per document on a 4-core
host (167 s for the 5000-row curation table), more than a whole run may
take; this reference takes well under a second.  ``test_smoke.py``
checks that both give the same frame.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

from sphinxsearchengine_spark.ops.dedup import _MERSENNE, _MIX, _minhash_params

NUM_HASHES, BANDS, ROWS = 64, 16, 4
_SPLIT = re.compile(r"[^a-z0-9]+")


def _md5_number_lower(tok: str) -> int:
    """DuckDB's ``md5_number_lower``: bytes 8-15 of the digest, little-endian."""
    return int.from_bytes(hashlib.md5(tok.encode()).digest()[8:], "little")


def minhash_lsh(documents: pd.DataFrame) -> pd.DataFrame:
    """``(id_a, id_b, est_jaccard)`` for every LSH candidate pair whose
    signatures agree on at least half of the 64 positions."""
    a, b = _minhash_params(NUM_HASHES)
    mix = _MIX[:3]
    ids, sigs = [], []
    with np.errstate(over="ignore"):
        for doc_id, text in zip(documents.doc_id, documents.text):
            toks = [t for t in _SPLIT.split(text.lower()) if t]
            if len(toks) < 3:
                continue
            h = np.array([_md5_number_lower(t) for t in toks], dtype=np.uint64)
            sh = h[:-2] * mix[0] + h[1:-1] * mix[1] + h[2:] * mix[2]
            v = (sh[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
            ids.append(int(doc_id))
            sigs.append(v.min(axis=0).astype(np.int64))
    ids_a = np.array(ids, dtype=np.int64)
    sig = np.array(sigs, dtype=np.int64).reshape(len(ids), NUM_HASHES)
    pairs: set[tuple[int, int]] = set()
    for band in range(BANDS):
        keys = pd.DataFrame(sig[:, band * ROWS:(band + 1) * ROWS])
        for members in keys.groupby(list(keys.columns)).indices.values():
            m = sorted(members, key=lambda i: ids_a[i])
            pairs.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    if pairs:
        x, y = (np.array(c, dtype=np.int64) for c in zip(*sorted(pairs)))
    else:
        x = y = np.zeros(0, dtype=np.int64)
    eq = (sig[x] == sig[y]).sum(axis=1)
    keep = eq >= NUM_HASHES // 2
    return pd.DataFrame({
        "id_a": ids_a[x[keep]],
        "id_b": ids_a[y[keep]],
        "est_jaccard": np.round(eq[keep] / float(NUM_HASHES), 6),
    })
