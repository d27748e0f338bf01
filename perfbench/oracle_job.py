"""Reference answers for the workload's checks, in a process of its own.

    python3 perfbench/oracle_job.py JOB.pkl ANSWERS.pkl

The workload starts it during its untimed warm-up, with every input the
checks need, and reads the answers before its timed loop starts.
``run.py`` leaves this process out of the memory measurement, so the
oracles' memory never counts as the engine's.

A job is a dict with any of these keys:

- ``"queries"``: ``{name: (docs, [(class, query, kwargs), ...])}``;
  each query is answered by ``oracle.OracleEngine`` over ``docs`` (the
  derived engine documents): for a search, its top-k
  ``[(docid, rank, score), ...]`` and the ``[(docid, score), ...]`` just
  past the k-th that tie with it (see ``close``); for a facet query,
  ``[(category, n_docs), ...]``.
- ``"matches"``: ``{name: (docs, [query, ...])}``; every doc that
  ``oracle.OracleEngine`` over ``docs`` matches for each query, with its
  score: ``{query: {docid: score}}``.
- ``"ops"``: ``(documents_parquet_dir, documents_frame, names)``; each
  gate entry in ``names`` is answered by ``__spark_entry__.oracle_sql()``
  in DuckDB, ``dedup_minhash_lsh`` by ``minhash_ref`` (it says why), all
  in ``scripts/check_gate.py``'s canonical form.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import sys

LIMIT = 20


def close(a: float, b: float) -> bool:
    """Scores agree: the engine and the oracle sum the same terms in
    different orders, so equal scores may differ in the last bits."""
    return abs(a - b) <= 1e-9 * max(abs(b), 1e-12)


def query_key(cls: str, q: str, kw: dict) -> tuple:
    return (cls, q, json.dumps(kw, sort_keys=True))


def answer_queries(docs, queries) -> dict:
    from sphinxsearchengine_spark.corpus import PINNED_NOW
    from sphinxsearchengine_spark.oracle import OracleEngine

    oracle = OracleEngine(docs)
    cats = dict(zip(docs.docid, docs.category))
    out = {}
    for cls, q, kw in queries:
        if cls == "facet":
            counts: dict[str, int] = {}
            for m in oracle.score_matches(q, now_ts=PINNED_NOW):
                for c in cats[m["docid"]]:
                    counts[c] = counts.get(c, 0) + 1
            out[query_key(cls, q, kw)] = sorted(counts.items())
        else:
            rows = oracle.search(q, limit=2 * LIMIT, now_ts=PINNED_NOW, **kw)
            top = [(w["docid"], w["rank"], w["score"]) for w in rows[:LIMIT]]
            tail = [(w["docid"], w["score"]) for w in rows[LIMIT:]
                    if close(w["score"], top[-1][2])]
            out[query_key(cls, q, kw)] = (top, tail)
    return out


def answer_matches(docs, queries) -> dict:
    from sphinxsearchengine_spark.corpus import PINNED_NOW
    from sphinxsearchengine_spark.oracle import OracleEngine

    oracle = OracleEngine(docs)
    return {q: {m["docid"]: m["score"] for m in oracle.score_matches(q, now_ts=PINNED_NOW)}
            for q in queries}


def load_check_gate():
    """``scripts/check_gate.py`` of the checkout (run from its root)."""
    spec = importlib.util.spec_from_file_location(
        "check_gate", os.path.join(os.getcwd(), "scripts", "check_gate.py"))
    cg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cg)
    return cg


def answer_ops(parquet_dir: str, documents, names) -> dict:
    import duckdb

    import __spark_entry__ as entry
    import minhash_ref

    cg = load_check_gate()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(parquet_dir, '*.parquet')}')")
    sql = entry.oracle_sql()
    return {name: cg.canon(minhash_ref.minhash_lsh(documents)
                           if name == "dedup_minhash_lsh" else con.execute(sql[name]).df())
            for name in names}


def main() -> int:
    with open(sys.argv[1], "rb") as fh:
        job = pickle.load(fh)
    out = {name: answer_queries(docs, queries)
           for name, (docs, queries) in job.get("queries", {}).items()}
    out.update((name, answer_matches(docs, queries))
               for name, (docs, queries) in job.get("matches", {}).items())
    if "ops" in job:
        out["ops"] = answer_ops(*job["ops"])
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
