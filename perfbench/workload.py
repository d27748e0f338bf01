"""The benchmark workloads; run as a child of ``perfbench/run.py``.

Each workload drives the engine only through its public calls: it sets
up from seeded inputs, warms up, times a closed loop with one client for
at least ``--seconds`` (whole rounds only), checks every output outside
the timed section, and writes one result file.  ``perfbench/README.md``
says what each workload measures and why.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import gen
from oracle_job import LIMIT, close, load_check_gate, query_key
from spans import SPARK_KEYS, Tracer

now = time.perf_counter
HERE = os.path.dirname(os.path.abspath(__file__))
TERM_BUCKETS, SALT = 8, 2
CHAIN = {  # queries() entry -> per-layer metric name
    "dedup_ngram_jaccard": "ops.dedup.ngram_jaccard_s",
    "dedup_minhash_lsh": "ops.dedup.minhash_lsh_s",
    "pipeline_curate": "ops.pipeline_curate_s",
}

# Input sizes.  'full' is what the benchmark measures: the corpus is 5x
# the one bench.py indexes at the gate fixture sf0.01 (500 documents),
# the curation table has the row count of the sf0.1 fixture, and an edit
# batch changes 1% and deletes 0.4% of the corpus.  README.md gives the
# measured class gaps that show the scorer and dedup work at these sizes,
# and the time budget that caps the corpus.
# 'tiny' only exercises every code path, for the smoke test.
SIZES = {
    "full": dict(corpus_docs=2500, curate_docs=5000,
                 replace=12, insert=13, delete=10, setup_reps=3),
    "tiny": dict(corpus_docs=300, curate_docs=100,
                 replace=4, insert=4, delete=3, setup_reps=2),
}


def cpu_ceiling_iter_s(seconds: float = 0.5) -> float:
    """Short no-Spark host probe: the numpy sort/cumsum/hash kernel of
    scripts/cpu_ceiling.py, one process, iterations per second."""
    rng = np.random.RandomState(7)
    a = rng.randint(0, 1 << 40, size=1_000_000).astype(np.uint64)
    t0 = now()
    iters = 0
    while now() - t0 < seconds:
        b = (a * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(7)
        c = np.sort(b)
        d = np.cumsum(c)
        _ = np.unique(b >> np.uint64(32)).size
        a = d.astype(np.uint64) ^ b
        iters += 1
    return iters / (now() - t0)


def start_spark(work: str):
    from pyspark.sql import SparkSession

    n = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        # a heap of fixed size, touched at start: its resident size does
        # not depend on when the collector grows it
        .config("spark.driver.extraJavaOptions", "-Xms1g -XX:+AlwaysPreTouch")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def files_digest(path: str) -> list[tuple[str, str]]:
    """(directory, sha256) of every data file under ``path``, sorted.

    File names are left out: Spark's writer puts a per-job id in them.
    """
    out = []
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        with open(p, "rb") as fh:
            out.append((os.path.relpath(os.path.dirname(p), path),
                        hashlib.sha256(fh.read()).hexdigest()))
    return sorted(out)


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


class Bench:
    """What the workloads share: Spark, tracer, sizes, ops and checks."""

    def __init__(self, args, spark, tracer: Tracer):
        self.args = args
        self.spark = spark
        self.tr = tracer
        self.size = SIZES[args.size]
        self.seed = args.seed
        self.layer: dict[str, tuple[float, str]] = {}
        self.ops: list[dict] = []      # timed calls: {kind, s, ok, out, ...}
        self.failures: list[str] = []
        self.setup_s = self.timed_wall = float("nan")
        self.items = 0
        self._excluded = 0.0           # untimed work inside the timed loop
        self._dirs = 0

    def fresh(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.args.work, f"{name}{self._dirs}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = (float(value), unit)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self, kind: str, fn, req: int, **info) -> dict:
        """Time one engine call as a top-level span; failures are kept."""
        rec = dict(kind=kind, req=req, ok=True, **info)
        t0 = now()
        try:
            with self.tr.span(kind, req=req):
                rec["out"] = fn()
        except Exception:
            traceback.print_exc()
            rec["ok"], rec["out"] = False, None
        rec["s"] = now() - t0
        self.ops.append(rec)
        return rec

    def untimed(self, fn):
        """Run a check inside the timed loop without counting its time."""
        t0 = now()
        try:
            return fn()
        finally:
            self._excluded += now() - t0

    def timed(self, seconds: float, step, unit: int = 1) -> None:
        """Closed loop: ``step(i)`` for i = 0, 1, ... until ``seconds``
        have passed, stopping only after whole rounds of ``unit`` steps.

        Its end also ends the memory measurement (``run.py`` stops
        sampling when the marker file appears), so the oracles and checks
        that follow do not count as the engine's memory."""
        t0, traced0 = now(), self.tr.overhead_s
        i = 0
        while i == 0 or i % unit or now() - t0 - self._excluded < seconds:
            step(i)
            i += 1
        self.timed_wall = now() - t0 - self._excluded
        self.trace_overhead_s = self.tr.overhead_s - traced0
        open(os.path.join(self.args.work, "mem.stop"), "w").close()
        self.timed_end = now()

    def materialize(self, pdf: pd.DataFrame, path: str) -> None:
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)

    def start_oracle(self, job: dict) -> None:
        """Start ``oracle_job.py`` on ``job``, at the lowest CPU priority,
        so that it only takes cores the engine leaves idle.  Its pid goes
        to the run's ``unsampled`` file: ``run.py`` leaves it out of the
        memory peak."""
        path = os.path.join(self.args.work, "job.pkl")
        with open(path, "wb") as fh:
            pickle.dump(job, fh)
        self._answers = os.path.join(self.args.work, "answers.pkl")
        self._oracle = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle_job.py"), path, self._answers],
            preexec_fn=lambda: os.nice(19))
        with open(os.path.join(self.args.work, "unsampled"), "a") as fh:
            fh.write(f"{self._oracle.pid}\n")

    def oracle_answers(self) -> dict:
        """Wait for the oracle job; its answers."""
        t0 = now()
        rc = self._oracle.wait()
        self.put("bench.oracle_wait_s", now() - t0, "s")
        if rc != 0:
            raise RuntimeError(f"oracle job exited with {rc}")
        with open(self._answers, "rb") as fh:
            return pickle.load(fh)

    def oracle_docs(self, corpus: pd.DataFrame) -> pd.DataFrame:
        """The engine documents of a corpus frame, as the oracle takes them."""
        from sphinxsearchengine_spark.corpus import derive_documents

        return derive_documents(self.spark.createDataFrame(corpus)).toPandas()

    def build(self, corpus_path: str, idx: str):
        from sphinxsearchengine_spark.config import EngineConfig
        from sphinxsearchengine_spark.corpus import derive_documents
        from sphinxsearchengine_spark.index.builder import build_index

        docs = derive_documents(self.spark.read.parquet(corpus_path))
        return build_index(self.spark, docs, idx,
                           EngineConfig(term_buckets=TERM_BUCKETS), salt_factor=SALT)


def manifest_stages(idx: str, seg: str, t_start: float, t_end: float) -> dict:
    """Builder stage durations from the ``ts`` stamps of a segment manifest."""
    from sphinxsearchengine_spark.index.layout import IndexLayout

    with open(IndexLayout(idx).manifest(seg)) as fh:
        st = json.load(fh)["stages"]
    return {"total": t_end - t_start,
            "docs": st["docs"]["ts"] - t_start,
            "postings": st["postings"]["ts"] - st["docs"]["ts"],
            "dict": st["dict"]["ts"] - st["blockmax"]["ts"],
            "commit": t_end - st["dict"]["ts"],
            "post": st["postings"]}


# ---------------------------------------------------------------------------
# query: closed loop over a seeded uniform class mix on a fixed index

def run_query(b: Bench) -> None:
    from sphinxsearchengine_spark.corpus import PINNED_NOW
    from sphinxsearchengine_spark.engine import Searcher
    from sphinxsearchengine_spark.index.layout import IndexLayout
    from sphinxsearchengine_spark.query import executor as X

    sz = b.size
    n = sz["corpus_docs"]
    corpus = gen.corpus(b.seed, n)
    # set-up = write the corpus, build the index, pin it in a Searcher;
    # setup_s adds the median of the repeated corpus writes (the first is
    # the run's first Spark job) to the one build and the one pin
    mat = []
    for _ in range(sz["setup_reps"]):
        t0 = now()
        with b.tr.span("setup.corpus.materialize"):
            cpath = b.fresh("corpus")
            b.materialize(corpus, cpath)
        mat.append(now() - t0)
    t0 = now()
    with b.tr.span("setup.index.builder.build_index"):
        idx = b.fresh("idx")
        b.build(cpath, idx)
    t_build = now() - t0
    lay = IndexLayout(idx)
    dic = b.spark.read.parquet(lay.dict("seg_00000")).select("term", "df").toPandas()
    per_round = len(gen.QUERY_CLASSES)
    # one round of the mix; cycled if --seconds asks for more rounds
    timed_mix = gen.query_mix(b.seed, gen.df_bands(dic, n), corpus.content.tolist(), 1)
    # the oracle answers every timed query while the Searcher pins
    b.start_oracle({"queries": {"query": (b.oracle_docs(corpus), timed_mix)}})
    t0 = now()
    with b.tr.span("setup.engine.Searcher"):
        searcher = Searcher(b.spark, idx, cache_docs=True)
    t_pin = now() - t0
    b.setup_s = p50(mat) + t_build + t_pin
    b.put("corpus.materialize_s", p50(mat), "s")
    b.put("index.builder.cold_build_s", t_build, "s")
    b.put("engine.Searcher.init_s", t_pin, "s")
    b.put("index.layout.postings_bytes",
          dir_bytes(os.path.join(idx, "segments", "seg_00000", "postings")), "B")
    # the working set against the Searcher's driver-RAM pins
    b.put("pins.dict_rows", len(dic), "count")
    b.put("pins.dict_cache_rows", searcher.dict_cache_rows, "count")

    def run(cls: str, q: str, kw: dict, req: int) -> dict:
        parts = {}

        def call():
            t0 = now()
            with b.tr.span("query.plan", req=req):
                if cls == "facet":
                    df = searcher.facets(q, now_ts=PINNED_NOW)
                elif cls == "unpinned":
                    df = X.search(b.spark, idx, q, limit=LIMIT, now_ts=PINNED_NOW, **kw)
                else:
                    df = searcher.search(q, limit=LIMIT, now_ts=PINNED_NOW, **kw)
            t1 = now()
            with b.tr.span("query.exec", req=req):
                rows = df.collect()
            parts.update(plan_s=t1 - t0, exec_s=now() - t1)
            return rows

        rec = b.op("query", call, req, cls=cls, q=q, kw=kw)
        rec.update(parts)
        return rec

    t0 = now()
    answers = b.oracle_answers()["query"]
    b.put("warmup_s", now() - t0, "s")

    b.timed(b.args.seconds, lambda i: run(*timed_mix[i % len(timed_mix)], i),
            unit=per_round)
    b.items = len(b.ops)
    for cls in gen.QUERY_CLASSES:
        b.put(f"query.executor.class.{cls}.p50_s",
              p50([o["s"] for o in b.ops if o["cls"] == cls]), "s")
    ok = [o for o in b.ops if o["ok"]]
    b.put("query.executor.plan_p50_s", p50([o["plan_s"] for o in ok]), "s")
    b.put("query.executor.exec_p50_s", p50([o["exec_s"] for o in ok]), "s")
    b.put("query.executor.result_rows_per_query",
          sum(len(o["out"]) for o in ok) / max(len(ok), 1), "count")
    check_queries(b, b.ops, answers, "query")


def check_queries(b: Bench, ops: list[dict], answers: dict, what: str) -> None:
    """Each query's top-k docids, ranks and scores (or facet counts) ==
    the oracle's answer; ``ops`` hold the query, its class and kwargs,
    and its collected rows."""
    corrupt = b.args.corrupt
    for op in ops:
        want = answers.get(query_key(op["cls"], op["q"], op["kw"]))
        rows = op["out"]
        if op["ok"] and corrupt and rows:
            rows, corrupt = rows[1:], False
        if not op["ok"] or want is None or not _same_result(op, rows, want):
            op["ok"] = False
            b.fail(f"{what} {op['cls']} {op['q']!r} {op['kw']}: differs from the oracle")


def _same_result(op: dict, rows, want) -> bool:
    """Facets: equal counts.  Searches: equal ranks and scores (``close``)
    and equal docids, except that under weight order docs whose scores
    tie may come in either order, and the last tie group may draw from
    the oracle's tied docs past the k-th."""
    if op["cls"] == "facet":
        return [(r.category, r.n_docs) for r in rows] == want
    top, tail = want
    if ([r.rank for r in rows] != [k for _, k, _ in top]
            or not all(close(r.score, s) for r, (_, _, s) in zip(rows, top))):
        return False
    if op["kw"].get("order_by", "weight") != "weight":
        return [r.docid for r in rows] == [d for d, _, _ in top]
    i = 0
    while i < len(top):
        j = i + 1
        while j < len(top) and close(top[j][2], top[i][2]):
            j += 1
        got = {r.docid for r in rows[i:j]}
        tied = {d for d, _, _ in top[i:j]}
        if j < len(top) and got != tied:
            return False
        if j == len(top) and not got <= tied | {d for d, _ in tail}:
            return False
        i = j
    return True


# ---------------------------------------------------------------------------
# batch: the offline path -- bulk build, lifecycle, curation ops

def run_batch(b: Bench) -> None:
    import __spark_entry__ as entry
    from sphinxsearchengine_spark.config import EngineConfig
    from sphinxsearchengine_spark.corpus import PINNED_NOW, derive_documents
    from sphinxsearchengine_spark.index import lifecycle
    from sphinxsearchengine_spark.index.layout import IndexLayout
    from sphinxsearchengine_spark.query import executor as X

    sz = b.size
    n = sz["corpus_docs"]
    corpus = gen.corpus(b.seed, n)
    content_bytes = int(corpus.content.str.encode("utf-8").str.len().sum())
    documents = gen.curate_documents(b.seed, sz["curate_docs"])
    times = []
    for _ in range(sz["setup_reps"]):
        t0 = now()
        with b.tr.span("setup.corpus.materialize"):
            cpath, sf = b.fresh("corpus"), b.fresh("sf")
            b.materialize(corpus, cpath)
            b.materialize(documents, os.path.join(sf, "documents.parquet"))
        times.append(now() - t0)
    b.setup_s = p50(times)
    b.put("corpus.materialize_s", b.setup_s, "s")

    qs = entry.queries()
    cfg = EngineConfig(term_buckets=TERM_BUCKETS)

    def edits(i: int):
        """Round i's edit batch and the corpus it leaves live."""
        ups, deleted, planted = gen.edit_batch(
            b.seed, i, corpus, n, sz["replace"], sz["insert"], sz["delete"])
        live = pd.concat([corpus[~corpus.path.isin(set(ups.path) | set(deleted.path))], ups])
        return ups, deleted, planted, live

    # warm-up, untimed: one thread per WARM_OPS entry makes its first call
    # over the first tenth of the curation table, while this one starts
    # the oracle job and then builds the corpus (cold), the index every
    # round edits a copy of.  All are mostly first-call cost (JIT,
    # generated code), which does not grow with the input.
    warm, base = b.fresh("sf"), b.fresh("idx")
    t0 = now()
    b.materialize(documents.head(max(len(documents) // 10, 100)),
                  os.path.join(warm, "documents.parquet"))
    with ThreadPoolExecutor(len(WARM_OPS)) as pool:
        ops_done = [pool.submit(lambda name=name: qs[name](b.spark, warm).toPandas())
                    for name in WARM_OPS]
        # the check of round 0's compacted index against the oracle over
        # the edited corpus: every match, with its score, of the two
        # hottest words (an AND that nearly every doc matches); the oracle
        # job runs at the lowest priority until the warm-up ends
        live0 = edits(0)[3]
        check_qs = [" ".join(gen.hot_words(b.seed, 2))]
        b.start_oracle({
            "ops": (os.path.join(sf, "documents.parquet"), documents, list(CHAIN)),
            "matches": {"compacted": (b.oracle_docs(live0), check_qs)},
        })
        t_start = time.time()
        with b.tr.span("warmup.index.builder.build_index"):
            meta = b.build(cpath, base)
        stages = manifest_stages(base, "seg_00000", t_start, time.time())
        for done in ops_done:
            done.result()
    b.put("warmup_s", now() - t0, "s")
    answers = b.oracle_answers()
    if meta.n_docs != n:
        b.fail(f"build: n_docs {meta.n_docs} != {n}")
    seg = os.path.join(base, "segments", "seg_00000")
    nbytes = {s: dir_bytes(os.path.join(seg, s)) for s in ("postings", "blockmax", "dict", "docs")}

    rounds = []

    def step(i: int) -> None:
        # lifecycle on a copy of the built index: one edit batch, then
        # compaction; checked after the timed loop
        idx = b.fresh("idx")
        b.untimed(lambda: shutil.copytree(base, idx))
        before = dir_bytes(idx)
        ups, deleted, planted, live = edits(i)
        del_ids = [gen.docid(r.repo, r.path, r.commit) for r in deleted.itertuples()]
        up = b.op("index.lifecycle.upsert", lambda: lifecycle.upsert(
            b.spark, idx, derive_documents(b.spark.createDataFrame(ups)), cfg), i)
        de = b.op("index.lifecycle.delete",
                  lambda: lifecycle.delete(b.spark, idx, del_ids), i)
        lay = IndexLayout(idx)
        rnd = dict(i=i, idx=idx, calls=(up, de), ups=ups, planted=planted, live=live,
                   written=dir_bytes(idx) - before,
                   edits=len(ups) + len(deleted),
                   segments=len(lay.meta.segments), tombstones=lay.meta.n_tombstones)
        rounds.append(rnd)
        t_start = time.time()
        co = b.op("index.lifecycle.compact", lambda: lifecycle.compact(b.spark, idx, cfg), i)
        t_end = time.time()
        rnd["calls"] += (co,)
        b.items += rnd["edits"] + (co["out"].n_docs if co["ok"] else 0)
        if co["ok"]:
            rnd["compact"] = manifest_stages(
                idx, co["out"].segments[0]["name"], t_start, t_end)

        for name in CHAIN:
            b.op(name, lambda: qs[name](b.spark, sf).toPandas(), i)
            b.items += len(documents)

    b.timed(b.args.seconds, step)

    def docids(frame: pd.DataFrame) -> set:
        return {gen.docid(r.repo, r.path, r.commit) for r in frame.itertuples()}

    def matches(idx: str, q: str) -> dict:
        return {r.docid: r.score for r in X.score_matches(
            b.spark, idx, q, now_ts=PINNED_NOW).select("docid", "score").collect()}

    def live(idx: str) -> set:
        return {r.docid for r in X.live_docs(b.spark, idx).select("docid").collect()}

    pool = ThreadPoolExecutor(3)  # the checks' Spark jobs, side by side
    for rnd in rounds:
        if not all(c["ok"] for c in rnd["calls"]):
            continue
        i, idx = rnd["i"], rnd["idx"]
        qs_i = check_qs if i == 0 else []
        live_f = pool.submit(live, idx)
        planted_f = pool.submit(matches, idx, "|".join(rnd["planted"]))
        found = dict(zip(qs_i, pool.map(lambda q: matches(idx, q), qs_i)))
        # the compacted index holds exactly the edited corpus, and every
        # upserted doc is found by its planted term
        got_live, got_planted = live_f.result(), set(planted_f.result())
        if b.args.corrupt and i == 0:
            got_planted.discard(min(got_planted, default=None))
        good = got_live == docids(rnd["live"]) and got_planted == docids(rnd["ups"])
        if not good:
            b.fail(f"lifecycle {i}: live docs or planted terms differ")
        # after compact, idf is exact again: each match and its score
        # equal the oracle's over the edited corpus
        for q, m in found.items():
            if b.args.corrupt:
                m.pop(min(m, default=None), None)
            want = answers["compacted"][q]
            if m.keys() != want.keys() or not all(close(m[d], want[d]) for d in m):
                good = False
                b.fail(f"compacted {i} {q[:40]!r}: matches or scores differ from the oracle")
        if not good:
            for call in rnd["calls"]:
                call["ok"] = False
    pool.shutdown()
    # the ops chain against the oracle job's answers, compared the way
    # scripts/check_gate.py compares
    cg = load_check_gate()
    for op in b.ops:
        if op["kind"] in CHAIN:
            got = op["out"]
            if got is not None and b.args.corrupt and op["req"] == 0:
                got = got.iloc[1:]
            if got is None or not _same_frame(cg, cg.canon(got), answers["ops"][op["kind"]]):
                op["ok"] = False
                b.fail(f"{op['kind']} call {op['req']}: differs from the DuckDB oracle")

    def by_kind(kind: str) -> list[float]:
        return [o["s"] for o in b.ops if o["kind"] == kind]

    # the builder's figures come from the warm-up build (a first call)
    b.put("index.builder.cold_build_s", stages["total"], "s")
    for st in ("docs", "postings", "dict", "commit"):
        b.put(f"index.builder.stage.{st}_s", stages[st], "s")
    post = stages["post"]
    b.put("index.builder.shuffle_write_bytes", post["shuffle_write_bytes"], "B")
    b.put("index.builder.shuffle_write_records", post["shuffle_write_records"], "count")
    b.put("index.builder.shuffle_bytes_per_doc", post["shuffle_bytes_per_doc"], "B")
    for part, size in nbytes.items():
        b.put(f"index.layout.{part}_bytes", size, "B")
    b.put("index.layout.index_bytes_per_content_byte",
          sum(nbytes.values()) / content_bytes, "ratio")
    if rounds:
        b.put("index.lifecycle.bytes_written_per_edit",
              sum(r["written"] for r in rounds) / sum(r["edits"] for r in rounds), "B")
        b.put("index.lifecycle.segments_max", max(r["segments"] for r in rounds), "count")
        b.put("index.lifecycle.tombstones_max", max(r["tombstones"] for r in rounds), "count")
    for kind in ("upsert", "delete", "compact"):
        b.put(f"index.lifecycle.{kind}_s", p50(by_kind(f"index.lifecycle.{kind}")), "s")
    b.put("index.lifecycle.compact.stage.postings_s",
          p50([r["compact"]["postings"] for r in rounds if "compact" in r]), "s")
    for name, metric in CHAIN.items():
        b.put(metric, p50(by_kind(name)), "s")
    pairs = [o for o in b.ops if o["kind"] == "dedup_ngram_jaccard" and o["ok"]]
    if pairs:
        b.put("ops.dedup.pairs_out", len(pairs[-1]["out"]), "count")


# the ops the warm-up calls first: those whose first call costs seconds
# more than the next (measured cold/warm, 100 then 500 rows, 4 cores:
# 8.2/2.5 s; pipeline_curate, standalone, 5.0/2.8 s at 5000 rows); the
# first call of dedup_minhash_lsh costs well under a second more
WARM_OPS = ("dedup_ngram_jaccard", "pipeline_curate")


def _same_frame(cg, got: pd.DataFrame, want: pd.DataFrame | None) -> bool:
    if want is None or list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
    except AssertionError:
        return False
    return cg.stringify(got).equals(cg.stringify(want))


WORKLOADS = {"query": run_query, "batch": run_batch}



# ---------------------------------------------------------------------------

def trace_layers(b: Bench) -> None:
    """Per-op Spark work and trace coverage over the timed spans."""
    spans = b.tr.spans
    untimed = {s["id"] for s in spans if s["parent"] is None
               and s["name"].startswith(("setup.", "warmup."))}
    timed = [s for s in spans if s["root"] not in untimed]
    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    for s in timed:
        for k in SPARK_KEYS:
            tot[k] += s["spark"][k]
    n = max(len(b.ops), 1)
    for k in SPARK_KEYS:
        unit = "B" if k.endswith("bytes") else "s" if k.endswith("_s") else "count"
        b.put(f"spark.{k}_per_op", tot[k] / n, unit)
    b.put("spark.executor_cpu_share",
          tot["executor_cpu_s"] / max(tot["executor_run_s"], 1e-9), "ratio")
    covered = sum(s["t1"] - s["t0"] for s in timed if s["parent"] is None)
    b.put("trace.untraced_share", max(b.timed_wall - covered, 0.0) / b.timed_wall, "ratio")
    b.put("trace.overhead_share", b.trace_overhead_s / b.timed_wall, "ratio")
    b.put("trace.spans_per_op", len(timed) / n, "count")
    b.put("op.traced_p50_s", p50([o["s"] for o in b.ops]), "s")
    if b.args.workload == "query":
        results = sum(len(o["out"]) for o in b.ops if o["ok"])
        b.put("query.executor.rows_examined_per_result",
              tot["input_records"] / max(results, 1), "ratio")
    if b.args.workload == "batch":
        b.put("ops.dedup.shuffle_records", p50([
            s["spark"]["shuffle_write_records"] for s in timed
            if s["name"] == "dedup_ngram_jaccard"]), "count")


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--work", "--out", "--result", "--size"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    ceiling = cpu_ceiling_iter_s()
    t0 = now()
    spark = start_spark(args.work)
    b = Bench(args, spark, Tracer(spark, bool(args.trace)))
    b.put("setup.spark_start_s", now() - t0, "s")
    b.put("host.cpu_ceiling_iter_s", ceiling, "1/s")
    WORKLOADS[args.workload](b)

    failed = sum(not o["ok"] for o in b.ops)
    b.put("bench.checks_s", now() - b.timed_end, "s")
    b.put("setup_s", b.setup_s, "s")
    b.put("op_p50_s", p50([o["s"] for o in b.ops]), "s")
    b.put("items_per_s", b.items / b.timed_wall, "1/s")
    if args.trace:
        trace_layers(b)
        b.tr.write(os.path.join(args.out, f"trace-{args.workload}-{args.seed}.json"),
                   workload=args.workload, seed=args.seed,
                   layers={k: v[0] for k, v in b.layer.items()})
    with open("BENCHMARK.json") as fh:
        declared = {m["name"]: m["unit"] for m in
                    json.load(fh)["per_layer" if args.trace else "end_to_end"]}
    declared.pop("peak_pss_mb", None)  # measured by run.py
    metrics = {}
    for name, unit in declared.items():
        value, got_unit = b.layer.get(name, (float("nan"), unit))
        if not math.isfinite(value) or got_unit != unit:
            b.fail(f"metric {name} not measured ({value} {got_unit})")
            value = 0.0
        metrics[name] = {"value": value, "unit": unit}
    report = [f"# workload={args.workload} seed={args.seed} trace={args.trace} "
              f"ops={len(b.ops)} failed={failed} timed_wall_s={b.timed_wall:.3f}"]
    report += [f"{k:<48s} {v:14.6g} {u}" for k, (v, u) in sorted(b.layer.items())]
    report += [f"FAILED {f}" for f in b.failures[:20]]
    res = {
        "correct": not b.failures and failed == 0,
        "attempted": len(b.ops),
        "failed": failed,
        "metrics": metrics,
        "report": report,
    }
    with open(args.result, "w") as fh:
        json.dump(res, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
