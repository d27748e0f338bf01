"""Distributed BM25 top-k search (SURVEY.md §3.1 Spark lifecycle).

Pipeline per query:

1. parse + sanitize (T8/T9) → AND-of-OR groups        [driver]
2. dictionary lookup, partition-pruned by term bucket; prefix atoms use a
   ``term >= p AND term < p+MAX`` range (pushed to parquet min/max);
   prefix expansion capped at EXPANSION_LIMIT most-frequent terms
   (Sphinx expansion_limit semantics) → concrete terms + df stats +
   bucket ids (no extra job: the dictionary rows carry their bucket)
3. idf per term computed on the driver (constant folding — the analog of
   the reference's client-side maxScore precompute, Q14)
4. postings scan: bucket-pruned, term-pruned, attribute filter (Q6)
   pushed into the parquet scan; tombstone anti-join only when
   tombstones exist (meta fast path)
5. ONE shuffle: repartition by docid → mapInPandas scorer — fully
   numpy-vectorized: batch varbyte decode of ALL position lists in one
   pass, phrase adjacency via sorted-code intersections, LCS chain DP
   as n_groups vectorized rounds; no per-document Python loop
6. ORDER BY (Q9) + LIMIT/OFFSET (Q10) → TakeOrderedAndProject
7. hydration broadcast join back to the docs table (S8), rank preserved
   (Q15)

The reference delegates all of this to searchd over one SphinxQL string
(SphinxSearchEngine_class.php:106-123); here the same contract is a
declarative Spark plan plus one Arrow-vectorized scoring stage.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark import codec
from sphinxsearchengine_spark.config import (
    BM25_K1,
    EXACT_PREFIX,
    EXPANSION_LIMIT,
    FIELD_NAMES,
    FIELD_WEIGHTS,
    FIELDS,
    MATCH_CAP,
)
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.query import ranker
from sphinxsearchengine_spark.query.parser import Query, parse_query
from sphinxsearchengine_spark.text.tokenizer import stem_token

_MAX_CHAR = "￿"
_POS_BITS = 21  # 2 MB field cap → < 2^21 token positions
# low bits of the scorer's packed (docid-rank, field) key
_FIELD_BITS = max(1, (len(FIELDS) - 1).bit_length())
_FIELD_MASK = (1 << _FIELD_BITS) - 1
assert max(FIELDS.values()) <= _FIELD_MASK, "field id overflows its key slot"

SCORED_SCHEMA = (
    "docid long, weight_raw double, score double, bm25 double, prox double, "
    "fresh double, lang string, date_insert long, date_modify long"
)

RESULT_COLS = [
    "rank", "docid", "score", "weight_raw", "repo", "path", "commit", "lang",
    "content_sha", "category", "date_insert", "date_modify",
]


def _live_union(spark: SparkSession, layout: IndexLayout, sub: str) -> DataFrame | None:
    """Union one sub-table (postings/dict/docs) across live segments with
    a seq column; newest-segment-wins and tombstones applied by callers."""
    meta = layout.meta
    dfs = []
    for seg in meta.segments:
        path = getattr(layout, sub)(seg["name"])
        dfs.append(spark.read.parquet(path).withColumn("seq", F.lit(seg["seq"])))
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _apply_tombstones(spark, layout: IndexLayout, df: DataFrame) -> DataFrame:
    ts = spark.read.parquet(layout.tombstones())
    cond = (df.docid == ts.docid) & (df.seq < ts.asof_seq)
    return df.join(F.broadcast(ts), cond, "left_anti")


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Current visible document set (newest segment wins, tombstones out).

    Fast path: a freshly-built/compacted index (one segment, no
    tombstones) is a plain parquet scan — no window, no anti-join.
    """
    layout = IndexLayout(index_dir)
    meta = layout.meta
    if len(meta.segments) == 1 and meta.n_tombstones == 0:
        return spark.read.parquet(layout.docs(meta.segments[0]["name"]))

    from pyspark.sql import Window

    docs = _live_union(spark, layout, "docs")
    if meta.n_tombstones:
        docs = _apply_tombstones(spark, layout, docs)
    w = Window.partitionBy("docid").orderBy(F.col("seq").desc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )


def _expand_groups(spark, layout, query: Query, dict_pdf=None):
    """Steps 2-3: dict lookup → per-(term, gid) mapping + idf constants.

    Returns (mapping_rows, stats, buckets):
    mapping_rows = [(term, gid, idf, is_phrase_member, member_idx, fld,
    use_exact_tf, pid)], stats = {term: (df, hits, max_tf, exact_df,
    exact_hits)}, buckets = postings partitions to scan.  ``pid`` indexes
    the phrase alternative within its group (-1 for non-phrase rows) so
    OR groups may hold several phrases ('"a b"|"c d"').
    """
    exact_terms: set[str] = set()
    prefixes: set[str] = set()

    def exact_lookup(w: str) -> str:
        """Dictionary key of w's exact form: a stem-identical surface
        lives on its stem row (exact_tf column); a stem-changing surface
        has its own '=w' row."""
        return w if stem_token(w) == w else EXACT_PREFIX + w

    for g in query.groups:
        for a in g.alts:
            if a.kind == "kw":
                w = a.words[0]
                exact_terms.add(stem_token(w))
                exact_terms.add(exact_lookup(w))
                prefixes.add(w)  # expand_keywords=1 → kw* too
            elif a.kind == "exact":
                exact_terms.add(exact_lookup(a.words[0]))
            elif a.kind == "prefix":
                prefixes.add(a.words[0])
            else:  # phrase
                exact_terms.update(stem_token(w) for w in a.words)

    if dict_pdf is not None:
        # driver-RAM dictionary (Searcher): no Spark job for expansion.
        # The pinned frame is SORTED by term (engine.py), so exact terms
        # and prefix ranges resolve by binary search — O(hits + log n)
        # per query instead of the r5 full-frame isin + str.startswith
        # scans (O(dict) Python-level string ops per query, ~1 s/query
        # on a 1.5M-term sf1.0 dictionary).  Prefix semantics are the
        # same [p, p+_MAX_CHAR) range the distributed path pushes into
        # the dict scan.
        terms_arr = dict_pdf["term"].to_numpy()
        n_dict = len(terms_arr)
        parts = []
        for t in sorted(exact_terms):
            i = int(np.searchsorted(terms_arr, t))
            if i < n_dict and terms_arr[i] == t:
                parts.append(np.array([i], dtype=np.int64))
        for p in sorted(prefixes):
            lo = int(np.searchsorted(terms_arr, p))
            hi = int(np.searchsorted(terms_arr, p + _MAX_CHAR))
            if hi > lo:
                parts.append(np.arange(lo, hi, dtype=np.int64))
        if parts:
            idx = np.unique(np.concatenate(parts))
        else:
            idx = np.empty(0, dtype=np.int64)
        # matched slice as SORTED numpy columns (dict_pdf is term-sorted
        # and idx ascending preserves that) — no pandas frame and no
        # Python dict over the full match set: a wide prefix matches
        # 111k terms at sf1.0 but contributes at most EXPANSION_LIMIT
        # rows to the query, so per-term stats entries are seeded lazily
        # for the terms actually selected (r6: the eager dict build cost
        # 1.2 s of driver time per '@title file_2*' query).
        _terms_c = terms_arr[idx]
        _cols = tuple(
            dict_pdf[c].to_numpy()[idx]
            for c in ("df", "hits", "max_tf", "exact_df", "exact_hits")
        )
        _bucket_c = dict_pdf["bucket"].to_numpy()[idx]
    else:
        dic = _live_union(spark, layout, "dict")
        cond = F.col("term").isin(list(exact_terms)) if exact_terms else F.lit(False)
        for p in sorted(prefixes):
            cond = cond | ((F.col("term") >= p) & (F.col("term") < p + _MAX_CHAR))
        dic_pdf = (
            dic.filter(cond)
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("hits").alias("hits"),
                F.max("max_tf").alias("max_tf"),
                F.sum("exact_df").alias("exact_df"),
                F.sum("exact_hits").alias("exact_hits"),
                F.first("bucket").alias("bucket"),
            )
            .toPandas()
            .sort_values("term")  # the lazy-lookup arrays below assume
            .reset_index(drop=True)  # term-sorted order (binary search)
        )
        _terms_c = dic_pdf["term"].to_numpy()
        _cols = tuple(
            dic_pdf[c].to_numpy()
            for c in ("df", "hits", "max_tf", "exact_df", "exact_hits")
        )
        _bucket_c = dic_pdf["bucket"].to_numpy()
    n_match = len(_terms_c)

    stats: dict[str, tuple] = {}
    bucket_of: dict[str, int] = {}

    def _seed(term: str) -> bool:
        """Materialize the stats/bucket entry for one term (binary
        search into the sorted matched slice); True iff present."""
        if term in stats:
            return True
        i = int(np.searchsorted(_terms_c, term))
        if i < n_match and _terms_c[i] == term:
            stats[term] = tuple(int(c[i]) for c in _cols)
            bucket_of[term] = int(_bucket_c[i])
            return True
        return False

    n_docs = layout.meta.n_docs
    nk = len(query.groups)
    mapping: list[tuple] = []

    def add(term: str, gid: int, is_pm: int, midx: int, fld: int,
            uex: int = 0, pid: int = -1):
        if _seed(term):
            df_ = stats[term][3] if uex else stats[term][0]
            if df_ <= 0:
                return
            mapping.append(
                (term, gid, ranker.idf(df_, n_docs, nk), is_pm, midx, fld,
                 uex, pid)
            )

    def add_exact(w: str, gid: int, fld: int):
        s = stem_token(w)
        if s == w:
            add(w, gid, 0, -1, fld, uex=1)
        else:
            add(EXACT_PREFIX + w, gid, 0, -1, fld, uex=0)

    _stat_dfs = _cols[0]

    def prefix_expand(w: str, exclude: set[str]) -> list[str]:
        """Top-EXPANSION_LIMIT most-frequent dict terms with prefix w
        (deterministic: df desc, term asc) — Sphinx expansion_limit."""
        lo = int(np.searchsorted(_terms_c, w))
        hi = int(np.searchsorted(_terms_c, w + _MAX_CHAR))
        if hi <= lo:
            return []
        sl = _terms_c[lo:hi]
        order = np.lexsort((sl, -_stat_dfs[lo:hi]))
        out: list[str] = []
        for j in order:
            t = sl[j]
            if t in exclude or t.startswith(EXACT_PREFIX):
                continue
            out.append(t)
            if len(out) >= EXPANSION_LIMIT:
                break
        return out

    for gid, g in enumerate(query.groups):
        pid = 0
        for a in g.alts:
            if a.kind == "kw":
                w = a.words[0]
                seen = {stem_token(w)}
                add(stem_token(w), gid, 0, -1, g.field)
                add_exact(w, gid, g.field)
                for t in prefix_expand(w, seen):
                    add(t, gid, 0, -1, g.field)
            elif a.kind == "exact":
                add_exact(a.words[0], gid, g.field)
            elif a.kind == "prefix":
                # seed the bare word's stats row (if matched) so meta /
                # suggest keyword lookups see it even when it is not
                # among the top-EXPANSION_LIMIT expansions — parity with
                # the r5 eager stats dict over the full match set
                _seed(stem_token(a.words[0]))
                for t in prefix_expand(a.words[0], set()):
                    add(t, gid, 0, -1, g.field)
            else:
                for i, w in enumerate(a.words):
                    add(stem_token(w), gid, 1, i, g.field, pid=pid)
                pid += 1
    buckets = sorted({bucket_of[m[0]] for m in mapping})
    return mapping, stats, buckets


# Driver-side cap on surviving blocks the planner may hand back; queries
# whose rarest group exceeds it skip block pruning entirely (a broad
# query scans most blocks anyway, so the planner job would be pure cost).
BLOCK_PLAN_CAP = 200_000


def _finish_block_plan(pdf: pd.DataFrame, now_ts: int):
    """Shared tail: bm25 + proximity + freshness bounds -> weight ub.

    The proximity bound uses the block's field mask: per-field LCS is at
    most n_groups, so wsum ≤ n_groups·Σ_{f present} w_f and
    prox ≤ 2000·Σ_present/Σ_all — a block whose terms live only in the
    body field (weight 1 of 23) is bounded at ~87, not 2000, which is
    what lets τ actually cut blocks."""
    import numpy as np

    from sphinxsearchengine_spark.config import (
        BM25_SCALE, FIELD_NAMES, FIELD_WEIGHTS, FRESHNESS_BOOST,
        FRESHNESS_HORIZON_S, FRESHNESS_POW, PROXIMITY_SCALE,
    )

    w_sum_all = float(sum(FIELD_WEIGHTS.values()))
    w_by_fid = np.asarray([FIELD_WEIGHTS[n] for n in FIELD_NAMES], dtype=np.float64)
    fm = pdf["fmask"].to_numpy()
    w_present = np.zeros(len(pdf), dtype=np.float64)
    for fid, w in enumerate(w_by_fid):
        w_present += w * ((fm >> fid) & 1)
    prox_ub = PROXIMITY_SCALE * w_present / w_sum_all
    bm25_ub = (pdf["raw_ub"].to_numpy() + 0.5) * BM25_SCALE
    fb = np.maximum(
        1.0 - (now_ts - pdf["dmax"].to_numpy() / 2.0) / FRESHNESS_HORIZON_S, 0.0
    )
    pdf = pdf.assign(ub=bm25_ub + prox_ub + FRESHNESS_BOOST * fb**FRESHNESS_POW)
    return pdf[["blk", "ub", "cap"]].reset_index(drop=True)


def _plan_blocks_pandas(bmx_pdf: pd.DataFrame, mapping, n_groups,
                        phrase_alts, now_ts):
    """Driver-RAM twin of the Spark planner below (Searcher pins the
    blockmax table like searchd pins its wordlist) — keep the filter and
    bound logic in sync with _plan_blocks."""
    import numpy as np

    map_pdf = pd.DataFrame(
        mapping,
        columns=["term", "gid", "idf", "is_pm", "midx", "fld", "uex", "pid"],
    )
    sub = bmx_pdf.merge(map_pdf, on="term", how="inner")
    if sub.empty:
        return sub.assign(ub=0.0, cap=0)[["blk", "ub", "cap"]]
    fld = sub["fld"].to_numpy()
    keep = (fld == -1) | (
        ((sub["fmask"].to_numpy() >> np.maximum(fld, 0)) & 1) == 1
    )
    keep &= (sub["uex"].to_numpy() == 0) | (sub["max_etf"].to_numpy() > 0)
    sub = sub[keep]
    if sub.empty:
        return sub.assign(ub=0.0, cap=0)[["blk", "ub", "cap"]]
    mtf = np.where(sub["uex"] == 1, sub["max_etf"], sub["max_tf"]).astype(np.float64)
    sub = sub.assign(contrib=sub["idf"].to_numpy() * mtf / (mtf + BM25_K1))
    ub = sub.groupby("blk").agg(
        raw_ub=("contrib", "sum"),
        dmax=("max_dsum", "max"),
        fmask=("fmask", lambda s: int(np.bitwise_or.reduce(s.to_numpy()))),
    )
    pres = (
        sub.groupby(["blk", "gid", "pid"])
        .agg(nmidx=("midx", "nunique"), gn=("n", "sum"))
        .reset_index()
    )
    if phrase_alts:
        nmem = {
            (g, p): nm for g, pids in phrase_alts.items() for p, nm in pids.items()
        }
        req = np.asarray(
            [nmem.get((g, p), 0) for g, p in zip(pres["gid"], pres["pid"])]
        )
        pres = pres[(pres["pid"].to_numpy() == -1) | (pres["nmidx"].to_numpy() >= req)]
    per_gid = pres.groupby(["blk", "gid"]).agg(gn=("gn", "sum")).reset_index()
    blocks = per_gid.groupby("blk").agg(ng=("gid", "nunique"), cap=("gn", "min"))
    blocks = blocks[blocks["ng"] == n_groups].join(ub).reset_index()
    return _finish_block_plan(blocks, now_ts)


def _plan_blocks(spark, layout, map_df, mapping, stats, buckets,
                 n_groups, phrase_alts, now_ts, bmx_pdf=None):
    """Block-max planner (north rule: block-max WAND).

    Reads the per-(term, docid-block) metadata written at build time
    (index/builder.py blockmax stage) and returns the blocks that can
    possibly satisfy the AND query, each with an upper bound on any
    contained doc's weight:

    - presence (exact): a block survives only if every group has a
      matchable alternative in it — kw alternative term present
      (field-mask and exact-tf aware), or ALL members of some phrase
      alternative present (same doc ⇒ same block, so this is a valid
      necessary condition).  Dropping non-surviving blocks never changes
      results.
    - ub: Σ over present mapping rows of idf·max_tf/(max_tf+k1), scaled
      like the scorer, + max proximity + block freshness bound.  Used by
      the caller's two-pass τ refinement; dropping rows from the sum is
      impossible (all present rows counted) and idf ≥ 0, so ub dominates
      every contained doc's score.

    Returns (pandas[blk, ub, cap] or None, info).  pandas is None when
    the index has no block metadata or the rarest group is too frequent
    (guard: min group df ≤ BLOCK_PLAN_CAP keeps the driver collect
    bounded; the Spark-side aggregation over hot terms' block rows stays
    distributed either way).
    """
    import numpy as np

    meta = layout.meta
    shift = meta.block_shift
    info = {"planned": False, "n_blocks": 0, "min_df": None}
    if shift is None:
        return None, info
    df_by_gid: dict[int, int] = {}
    for term, gid, _idf, _is_pm, _midx, _fld, uex, _pid in mapping:
        df_by_gid[gid] = df_by_gid.get(gid, 0) + stats[term][3 if uex else 0]
    min_df = min(df_by_gid.values())
    info["min_df"] = min_df
    if min_df > BLOCK_PLAN_CAP:
        return None, info
    if bmx_pdf is not None:
        # the pinned blockmax frame is SORTED by term (engine.py): each
        # query term resolves to a row range by binary search — the r5
        # full-frame isin cost O(blockmax rows) of Python string
        # hashing per query (~0.4 s on the sf1.0 table)
        bm_terms = bmx_pdf["term"].to_numpy()
        parts = []
        for t in sorted({m[0] for m in mapping}):
            lo = int(np.searchsorted(bm_terms, t, side="left"))
            hi = int(np.searchsorted(bm_terms, t, side="right"))
            if hi > lo:
                parts.append(np.arange(lo, hi, dtype=np.int64))
        sub = (
            bmx_pdf.iloc[np.concatenate(parts)]
            if parts else bmx_pdf.iloc[:0]
        )
        pdf = _plan_blocks_pandas(sub, mapping, n_groups, phrase_alts, now_ts)
        info.update(planned=True, n_blocks=len(pdf), driver_ram=True)
        return pdf, info
    try:
        bm = _live_union(spark, layout, "blockmax")
        terms = sorted({m[0] for m in mapping})
        bm = bm.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        j = bm.join(F.broadcast(map_df), "term")
        j = j.filter((F.col("fld") == -1) | (F.expr("(fmask >> fld) & 1") == 1))
        j = j.filter((F.col("uex") == 0) | (F.col("max_etf") > 0))
        j = j.withColumn(
            "mtf",
            F.when(F.col("uex") == 1, F.col("max_etf")).otherwise(F.col("max_tf")),
        ).withColumn(
            "contrib", F.col("idf") * F.col("mtf") / (F.col("mtf") + BM25_K1)
        )
        # ub over ALL present rows (partial phrase members still add BM25)
        ub = j.groupBy("blk").agg(
            F.sum("contrib").alias("raw_ub"),
            F.max("max_dsum").alias("dmax"),
            F.expr("bit_or(fmask)").alias("fmask"),
        )
        # presence: per (blk, gid, pid) — kw rows (pid=-1) trivially
        # present; phrase alternatives need every member index
        pres = j.groupBy("blk", "gid", "pid").agg(
            F.count_distinct("midx").alias("nmidx"), F.sum("n").alias("gn")
        )
        nmem_rows = [
            (gid, pid, nmem)
            for gid, pids in phrase_alts.items()
            for pid, nmem in pids.items()
        ]
        if nmem_rows:
            nmem_df = spark.createDataFrame(nmem_rows, "gid int, pid int, nmem int")
            pres = pres.join(F.broadcast(nmem_df), ["gid", "pid"], "left")
            pres = pres.filter(F.col("nmem").isNull() | (F.col("nmidx") >= F.col("nmem")))
        per_gid = pres.groupBy("blk", "gid").agg(F.sum("gn").alias("gn"))
        blocks = (
            per_gid.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("ng"), F.min("gn").alias("cap"))
            .filter(F.col("ng") == n_groups)
            .join(ub, "blk")
        )
        pdf = blocks.toPandas()
    except Exception:
        return None, info
    pdf = _finish_block_plan(pdf, now_ts)
    info.update(planned=True, n_blocks=len(pdf))
    return pdf, info


def _decode_all(pr: pd.DataFrame):
    """Vectorized varbyte decode of every pos_vb in the frame.

    Returns (row_of_val, positions): for each decoded position, the
    source row index and the absolute (1-based) token position.
    """
    bufs = list(pr["pos_vb"])
    if not bufs:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    byte_lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    if not any(byte_lens):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    big = b"".join(bufs)
    deltas = codec.vb_decode(big).astype(np.int64)
    b_arr = np.frombuffer(big, dtype=np.uint8)
    is_last = (b_arr & 0x80) == 0
    row_of_byte = np.repeat(np.arange(len(bufs)), byte_lens)
    row_of_val = row_of_byte[is_last]
    total = np.cumsum(deltas)
    val_counts = np.bincount(row_of_val, minlength=len(bufs))
    row_starts = np.concatenate(([0], np.cumsum(val_counts)[:-1]))
    base = np.where(row_starts > 0, total[row_starts - 1], 0)
    positions = total - np.repeat(base, val_counts)
    return row_of_val, positions


def _make_scorer(n_groups: int, phrase_alts: dict[int, dict[int, int]],
                 now_ts: int, weights_by_fid: list[int],
                 prune: dict | None = None,
                 max_score_val: float | None = None,
                 match_only: bool = False):
    """Partition scorer, fully numpy-vectorized (no per-doc Python loop):
    BM25 + AND first; positions decoded in ONE batch pass only for AND
    survivors; phrase adjacency and LCS chain DP as per-group vector
    rounds over (docid,field,pos) codes.

    ``prune`` = {"topn": K, "order": col, "sort": dir} enables the
    MaxScore/WAND-spirit top-k path (exact results): per doc the score's
    certain LOWER bound (every matched field has LCS >= 1) and UPPER
    bound (LCS_f <= #groups matched in field f) are computed from
    tf-level data only; τ = the partition's K-th best lower bound, and
    positional work runs only for docs whose upper bound reaches τ.
    A partition-local τ under-estimates the global τ, so the kept set is
    a superset of the partition's contribution to the global top-K —
    pruning never changes results.  Single-keyword queries collapse
    entirely (lb == ub) and never decode positions.

    ``phrase_alts``: gid -> {pid -> n_members} for every phrase
    alternative; a group with BOTH kw and phrase alternatives matches a
    doc when either side does (OR semantics, ADVICE r1 medium).
    """
    k1 = BM25_K1
    w_fid = np.asarray(weights_by_fid, dtype=np.float64)
    mls = float(ranker.max_lcs(n_groups))
    ms_norm = max_score_val if max_score_val is not None else ranker.max_score(n_groups)
    from sphinxsearchengine_spark.config import PROXIMITY_SCALE

    def decode_codes(pr: pd.DataFrame):
        """One-pass positional decode of a row frame → sorted-code space."""
        row_of_val, positions = _decode_all(pr)
        docid_v = pr["docid"].to_numpy()[row_of_val]
        gid_v = pr["gid"].to_numpy()[row_of_val]
        fld_v = pr["field"].to_numpy()[row_of_val]
        midx_v = pr["midx"].to_numpy()[row_of_val]
        ispm_v = pr["is_pm"].to_numpy()[row_of_val]
        pid_v = pr["pid"].to_numpy()[row_of_val]
        if len(docid_v):
            # exact np.unique(pairs, axis=0, return_inverse=True)
            # replacement (r6): factorize docid with SORTED uniques, pack
            # (rank, field) into one int64 and quicksort-argsort it — the
            # void-dtype row sort was ~5x slower at the same output.
            # Sorted-docid order is preserved EXACTLY (rank is docid's
            # ascending rank), so downstream float accumulation order —
            # and with it every rounded score — is unchanged.
            codes, du = pd.factorize(docid_v, sort=True)
            pkey = (codes.astype(np.int64) << _FIELD_BITS) | fld_v.astype(np.int64)
            po = np.argsort(pkey)
            k_o = pkey[po]
            knew = np.ones(len(k_o), dtype=bool)
            knew[1:] = k_o[1:] != k_o[:-1]
            key_of_val = np.empty(len(po), dtype=np.int64)
            key_of_val[po] = np.cumsum(knew) - 1
            ks = k_o[knew]
            uniq = np.stack([du[ks >> _FIELD_BITS], ks & _FIELD_MASK], axis=1)
        else:
            uniq = np.empty((0, 2), dtype=np.int64)
            key_of_val = np.empty(0, dtype=np.int64)
        code = (key_of_val.astype(np.int64) << _POS_BITS) | positions
        return uniq, code, gid_v, ispm_v, midx_v, positions, pid_v

    def validate_phrases(dec):
        """→ (starts_by_gid, matched_df[docid, field, gid]); starts are
        the union over the group's phrase alternatives (pids)."""
        uniq, code, gid_v, ispm_v, midx_v, positions, pid_v = dec
        starts_by_gid: dict[int, np.ndarray] = {}
        rows = []
        for gid, pids in phrase_alts.items():
            g_starts = np.empty(0, dtype=np.int64)
            for pid, nmem in pids.items():
                sel = (gid_v == gid) & (ispm_v == 1) & (pid_v == pid)
                starts = np.unique(code[sel & (midx_v == 0)])
                for mi in range(1, nmem):
                    smi = sel & (midx_v == mi) & (positions > mi)
                    aligned = np.unique(code[smi] - mi)
                    starts = starts[np.isin(starts, aligned, assume_unique=True)]
                    if starts.size == 0:
                        break
                g_starts = np.union1d(g_starts, starts)
            starts_by_gid[gid] = g_starts
            keys = np.unique(g_starts >> _POS_BITS)
            rows.append(
                pd.DataFrame(
                    {"docid": uniq[keys, 0], "field": uniq[keys, 1], "gid": gid}
                )
            )
        matched = pd.concat(rows, ignore_index=True) if rows else pd.DataFrame(
            columns=["docid", "field", "gid"]
        )
        return starts_by_gid, matched

    def lcs_wsum(dec, starts_by_gid) -> pd.Series:
        """Weighted per-doc LCS sum via chain DP over sorted codes."""
        uniq, code, gid_v, ispm_v, _midx_v, _positions, _pid_v = dec
        best_arr = np.zeros(len(uniq), dtype=np.int32)
        prev_codes = np.empty(0, dtype=np.int64)
        prev_lens = np.empty(0, dtype=np.int32)
        for g in range(n_groups):
            # group positions = kw-alternative positions ∪ phrase starts
            cur = np.unique(code[(gid_v == g) & (ispm_v == 0)])
            ph = starts_by_gid.get(g)
            if ph is not None and ph.size:
                cur = np.union1d(cur, ph)
            if cur.size == 0:
                prev_codes = np.empty(0, dtype=np.int64)
                prev_lens = np.empty(0, dtype=np.int32)
                continue
            lens = np.ones(cur.size, dtype=np.int32)
            if prev_codes.size:
                idx = np.searchsorted(prev_codes, cur - 1)
                idxc = np.clip(idx, 0, prev_codes.size - 1)
                hit = prev_codes[idxc] == (cur - 1)
                lens = np.where(hit, prev_lens[idxc] + 1, 1).astype(np.int32)
            # cur is sorted, so equal high-bits keys are contiguous:
            # per-run maxima via reduceat, then one gathered np.maximum —
            # ufunc.at is an unvectorized scatter loop (r6)
            keys = cur >> _POS_BITS
            rnew = np.ones(keys.size, dtype=bool)
            rnew[1:] = keys[1:] != keys[:-1]
            rs = np.flatnonzero(rnew)
            kk = keys[rs]
            best_arr[kk] = np.maximum(
                best_arr[kk], np.maximum.reduceat(lens, rs)
            )
            prev_codes, prev_lens = cur, lens
        lcs_df = pd.DataFrame(
            {
                "docid": uniq[:, 0],
                "wl": best_arr.astype(np.float64) * w_fid[uniq[:, 1]],
            }
        )
        return lcs_df.groupby("docid", sort=False)["wl"].sum()

    def assemble(att: pd.DataFrame, bm25_raw: pd.Series, wsum: pd.Series):
        out = att.join(wsum.rename("wsum"), how="left").join(
            bm25_raw.rename("raw"), how="left"
        )
        if out.empty:
            return None
        out = out.fillna({"wsum": 0.0, "raw": 0.0})
        prox = out["wsum"].to_numpy() / mls * PROXIMITY_SCALE
        bm = (out["raw"].to_numpy() + 0.5) * 999
        dates = out[["date_insert", "date_modify"]].to_numpy(dtype=np.float64)
        age = now_ts - dates.sum(axis=1) / 2.0
        freshb = np.maximum(1.0 - age / 47_304_000, 0.0)
        fresh = 1000.0 * freshb**4
        raw_w = prox + bm + fresh
        return pd.DataFrame(
            {
                "docid": out.index.to_numpy(),
                "weight_raw": raw_w,
                "score": raw_w / ms_norm,
                "bm25": bm,
                "prox": prox,
                "fresh": fresh,
                "lang": out["lang"].to_numpy(),
                "date_insert": out["date_insert"].to_numpy(),
                "date_modify": out["date_modify"].to_numpy(),
            }
        )

    def score_partition(pdf_iter):
        chunks = list(pdf_iter)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return

        # --- BM25 (doc-level tf across fields, per (docid,gid,term)) ----
        # uex duplicates a term within a group (stem + exact expansion on
        # one row) — they are distinct scoring keywords, so uex is a key.
        # One keyword can enter a group's mapping more than once (a
        # repeated word, a word plus its own prefix expansion, a word
        # plus a phrase member); the join then repeats its postings rows,
        # so drop those repeats first: each keyword scores once per doc
        # on its doc-level tf (oracle.score_matches: same rule).
        if not match_only:
            per_term = (
                pdf.drop_duplicates(["docid", "gid", "tid", "uex", "field"])
                .groupby(["docid", "gid", "tid", "uex"], sort=False)
                .agg(tfd=("tf", "sum"), idf=("idf", "first"))
                .reset_index()
            )
            per_term["contrib"] = (
                per_term["idf"] * per_term["tfd"] / (per_term["tfd"] + k1)
            )
            bm25_raw = per_term.groupby("docid", sort=False)["contrib"].sum()

        # --- AND matching: strict (phrase-free) groups first --------------
        dg = pdf.loc[pdf["is_pm"] == 0, ["docid", "gid"]].drop_duplicates()
        need_strict = [g for g in range(n_groups) if g not in phrase_alts]
        if need_strict:
            cnt = (
                dg[dg["gid"].isin(need_strict)]
                .groupby("docid", sort=False)
                .size()
            )
            surv = cnt[cnt == len(need_strict)].index.to_numpy()
        else:
            surv = pdf["docid"].unique()
        if surv.size == 0:
            return
        pr = pdf[pdf["docid"].isin(surv)].reset_index(drop=True)

        # --- groups with phrase alternatives: kw-alt match OR any
        # validated phrase alternative satisfies the group (OR semantics)
        starts_by_gid: dict[int, np.ndarray] = {}
        phrase_matched = None
        if phrase_alts:
            pm = pr[pr["is_pm"] == 1].reset_index(drop=True)
            dec_pm = decode_codes(pm)
            starts_by_gid, phrase_matched = validate_phrases(dec_pm)
            alive = set(surv.tolist())
            for g in phrase_alts:
                kw_docs = set(dg.loc[dg["gid"] == g, "docid"])
                ph_docs = set(
                    phrase_matched.loc[phrase_matched["gid"] == g, "docid"]
                )
                alive &= kw_docs | ph_docs
                if not alive:
                    return
            pr = pr[pr["docid"].isin(alive)].reset_index(drop=True)

        att = pr.drop_duplicates("docid").set_index("docid")[
            ["lang", "date_insert", "date_modify"]
        ]

        if match_only:
            # membership only (facet path, Q13): AND + phrase validation
            # done above — skip BM25/LCS/positional scoring entirely
            z = np.zeros(len(att))
            yield pd.DataFrame(
                {
                    "docid": att.index.to_numpy(),
                    "weight_raw": z, "score": z, "bm25": z, "prox": z,
                    "fresh": z,
                    "lang": att["lang"].to_numpy(),
                    "date_insert": att["date_insert"].to_numpy(),
                    "date_modify": att["date_modify"].to_numpy(),
                }
            )
            return

        # --- WAND-spirit pruning: bound pass on tf-level data -------------
        if prune is not None and len(pr) and prune["topn"] < len(att):
            nm = pr.loc[pr["is_pm"] == 0, ["docid", "field", "gid"]].drop_duplicates()
            if phrase_matched is not None and not phrase_matched.empty:
                nm = pd.concat(
                    [nm, phrase_matched[nm.columns]], ignore_index=True
                ).drop_duplicates()
            gf = (
                nm.groupby(["docid", "field"], sort=False)["gid"]
                .nunique()
                .reset_index(name="gmatch")
            )
            gf["lb_w"] = w_fid[gf["field"].to_numpy()]
            gf["ub_w"] = gf["lb_w"] * gf["gmatch"]
            agg = gf.groupby("docid", sort=False)[["lb_w", "ub_w"]].sum()
            bounds = att.join(agg, how="left").join(bm25_raw.rename("raw"), how="left")
            bounds = bounds.fillna({"lb_w": 0.0, "ub_w": 0.0, "raw": 0.0})
            bm_b = (bounds["raw"].to_numpy() + 0.5) * 999
            dts = bounds[["date_insert", "date_modify"]].to_numpy(dtype=np.float64)
            fb = np.maximum(1.0 - (now_ts - dts.sum(axis=1) / 2.0) / 47_304_000, 0.0)
            fr_b = 1000.0 * fb**4
            k_ = prune["topn"]
            if prune["order"] == "weight":
                lb = bm_b + fr_b + bounds["lb_w"].to_numpy() / mls * PROXIMITY_SCALE
                ub = bm_b + fr_b + bounds["ub_w"].to_numpy() / mls * PROXIMITY_SCALE
                if prune["sort"] == "desc":
                    tau = np.partition(lb, -k_)[-k_] if lb.size > k_ else -np.inf
                    keep_ids = bounds.index.to_numpy()[ub >= tau]
                else:
                    tau = np.partition(ub, k_ - 1)[k_ - 1] if ub.size > k_ else np.inf
                    keep_ids = bounds.index.to_numpy()[lb <= tau]
            else:
                col = bounds[prune["order"]].to_numpy()
                if prune["sort"] == "desc":
                    tau = np.partition(col, -k_)[-k_] if col.size > k_ else -np.inf
                    keep_ids = bounds.index.to_numpy()[col >= tau]
                else:
                    tau = np.partition(col, k_ - 1)[k_ - 1] if col.size > k_ else np.inf
                    keep_ids = bounds.index.to_numpy()[col <= tau]
            pr = pr[pr["docid"].isin(set(keep_ids.tolist()))].reset_index(drop=True)
            att = att.loc[att.index.isin(keep_ids)]

        # --- single-keyword fast path: LCS ≡ 1 per matched field ----------
        if n_groups == 1 and not phrase_alts:
            nm = pr.loc[pr["is_pm"] == 0, ["docid", "field"]].drop_duplicates()
            nm["w"] = w_fid[nm["field"].to_numpy()]
            wsum = nm.groupby("docid", sort=False)["w"].sum()
            res = assemble(att, bm25_raw, wsum)
            if res is not None:
                yield res
            return

        # --- full positional pass (possibly on the pruned survivor set) --
        dec = decode_codes(pr)
        if phrase_alts:
            # map starts into the current decode's key space: recompute
            starts_by_gid, _pm3 = validate_phrases(dec)
        wsum = lcs_wsum(dec, starts_by_gid)
        res = assemble(att, bm25_raw, wsum)
        if res is not None:
            yield res

    return score_partition


def score_matches(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    langs: list[str] | None = None,
    now_ts: int = 0,
    prune: dict | None = None,
    _ctx: dict | None = None,
    categories: list[str] | None = None,
    match_only: bool = False,
) -> DataFrame:
    """Match + score all documents for `query`; returns the scored set
    (docid, weight_raw, score, …) BEFORE ordering/limit.

    ``match_only`` (facet path) keeps exact AND/phrase matching but
    skips all scoring work; score columns come back zero.

    ``categories`` appends the reference's '@category_search "__a__"|…'
    filter group and widens maxScore by the category weight per selected
    category (SphinxSearchEngine_class.php:98-102, 284-303)."""
    if isinstance(query, str):
        query = parse_query(query)
    layout = IndexLayout(index_dir)
    if query.blank or not query.groups:
        return spark.createDataFrame([], SCORED_SCHEMA)
    max_score_val = None
    if categories:
        from sphinxsearchengine_spark.query.parser import with_categories

        base_n = len(query.groups)
        query = with_categories(query, categories)
        max_score_val = ranker.max_score(base_n, n_categories=len(categories))

    meta = layout.meta
    dict_pdf = _ctx.get("dict_pdf") if _ctx else None
    mapping, _stats, buckets = _expand_groups(spark, layout, query, dict_pdf)
    if not mapping:
        return spark.createDataFrame([], SCORED_SCHEMA)
    # not every group found in dict → AND can never be satisfied
    gids_present = {m[1] for m in mapping}
    if len(gids_present) < len(query.groups):
        return spark.createDataFrame([], SCORED_SCHEMA)

    terms = sorted({m[0] for m in mapping})
    # tid: dense int id per term — the scorer's per-term BM25 groupby
    # key, so the term STRING never crosses the Python boundary (Arrow
    # framing + pandas object-key hashing of ~1M rows per hot query)
    _tid = {t: i for i, t in enumerate(terms)}
    map_df = spark.createDataFrame(
        [m + (_tid[m[0]],) for m in mapping],
        "term string, gid int, idf double, is_pm int, midx int, fld int, "
        "uex int, pid int, tid int",
    )

    post = _live_union(spark, layout, "postings")
    post = post.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    if langs:
        post = post.filter(F.col("lang").isin(langs))  # Q6 pushdown
    if meta.n_tombstones:
        post = _apply_tombstones(spark, layout, post)
    # newest-segment-wins for updated docs: drop postings of docids that
    # appear in a newer segment (upsert supersedes, SURVEY.md §3.2)
    if len(meta.segments) > 1:
        docs_union = _live_union(spark, layout, "docs")
        if meta.n_tombstones:
            docs_union = _apply_tombstones(spark, layout, docs_union)
        docs_seq = docs_union.groupBy("docid").agg(F.max("seq").alias("mseq"))
        post = post.join(F.broadcast(docs_seq), "docid", "left").filter(
            F.col("seq") == F.col("mseq")
        ).drop("mseq")

    phrase_alts: dict[int, dict[int, int]] = {}
    for gid, g in enumerate(query.groups):
        pc = 0
        for a in g.alts:
            if a.kind == "phrase":
                phrase_alts.setdefault(gid, {})[pc] = len(a.words)
                pc += 1
    weights_by_fid = [FIELD_WEIGHTS[name] for name in FIELD_NAMES]
    scorer = _make_scorer(
        len(query.groups), phrase_alts, now_ts, weights_by_fid, prune,
        max_score_val, match_only,
    )
    shift = meta.block_shift
    shuffle_n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    # ~rows of scorer input per task: the scorer is numpy-vectorized, so
    # per-task fixed cost (Python worker round-trip, Arrow framing)
    # dominates below this; above it, parallelism wins.
    score_rows_per_task = 25_000

    def _nparts(est_rows) -> int:
        """Scorer exchange width from the block plan's own cap metadata
        (guide §2: derive partitioning from the data size, don't pin the
        local core count).  A pruned scan of a few hundred postings rows
        gets 1 task instead of shuffle_n Python worker spins; a broad
        scan keeps full parallelism."""
        if est_rows is None:
            return shuffle_n
        return max(1, min(shuffle_n, -(-int(est_rows) // score_rows_per_task)))

    def run(blks, est_rows=None) -> DataFrame:
        """Score the (optionally block-restricted) postings scan."""
        p = post
        if blks is not None:
            blk_col = F.expr(f"shiftrightunsigned(docid, {shift})")
            if len(blks) <= 256:
                p = p.filter(blk_col.isin([int(b) for b in blks]))
            else:
                bdf = spark.createDataFrame(
                    [(int(b),) for b in blks], "blk long"
                )
                p = (
                    p.withColumn("_blk", blk_col)
                    .join(F.broadcast(bdf), F.col("_blk") == bdf.blk, "left_semi")
                    .drop("_blk")
                )
        # Driver-derived SUPERSET pre-filters, then exchange, then the
        # mapping join AFTER the exchange (guide §2.3/§8: decide with
        # small metadata, move heavy bytes once).  A term matched by
        # several mapping rows — the common kw case is stem + exact-form
        # (uex) — used to be duplicated by the join BEFORE the docid
        # exchange, doubling the shuffled pos_vb payload; the broadcast
        # join is narrow, so joining after the exchange duplicates rows
        # in-stage at zero shuffle cost.  The pre-filters keep every
        # pre-shuffle row drop the old join order performed:
        flds = {m[5] for m in mapping}
        if -1 not in flds:
            # field-limited query: only mapped fields can survive
            p = p.filter(F.col("field").isin(sorted(flds)))
        all_terms = {m[0] for m in mapping}
        non_uex_terms = {m[0] for m in mapping if m[6] == 0}
        if len(non_uex_terms) < len(all_terms):
            # some term matches ONLY via its exact form: rows without an
            # exact occurrence can never survive its uex mapping
            cond = F.col("exact_tf") > 0
            if non_uex_terms:
                cond = cond | F.col("term").isin(sorted(non_uex_terms))
            p = p.filter(cond)
        c = (
            p.select(
                "docid", "term", "field", "tf", "exact_tf", "pos_vb",
                "lang", "date_insert", "date_modify",
            )
            .repartition(_nparts(est_rows), "docid")
            .join(F.broadcast(map_df), "term")
        )
        c = c.filter((F.col("fld") == -1) | (F.col("field") == F.col("fld")))
        # uex rows score on exact_tf (surface==term occurrences) — rows
        # with no exact occurrence are non-matches for that expansion.
        c = c.withColumn(
            "tf", F.when(F.col("uex") == 1, F.col("exact_tf")).otherwise(F.col("tf"))
        ).filter(F.col("tf") > 0)
        return (
            c.select(
                "docid", "tid", "gid", "idf", "is_pm", "midx", "pid", "field",
                "tf", "uex", "pos_vb", "lang", "date_insert", "date_modify",
            )
            .mapInPandas(scorer, schema=SCORED_SCHEMA)
        )

    # --- block-max pruning (north rule: block-max WAND) -------------------
    blk_plan = None
    if not (_ctx or {}).get("no_blockmax", False):
        blk_plan, binfo = _plan_blocks(
            spark, layout, map_df, mapping, _stats, buckets,
            len(query.groups), phrase_alts, now_ts,
            bmx_pdf=(_ctx or {}).get("blockmax_pdf"),
        )
        if _ctx is not None:
            _ctx["block_plan"] = binfo
    if blk_plan is None:
        return run(None)
    if len(blk_plan) == 0:
        # no block holds all groups: AND is unsatisfiable, zero scan
        return spark.createDataFrame([], SCORED_SCHEMA)
    from sphinxsearchengine_spark.config import POSTINGS_BLOCK

    occupied = min(1 << (64 - shift), meta.n_docs // POSTINGS_BLOCK + 1)
    if (
        prune is not None
        and prune.get("order") == "weight"
        and prune.get("sort") == "desc"
        and len(blk_plan) > 8
    ):
        # two-pass τ refinement: score the highest-ub blocks first, take
        # the K-th weight as τ, then visit only remaining blocks whose ub
        # can still beat it.  τ_final ≥ τ_passA, so skipping ub < τ_passA
        # blocks is exact.
        import numpy as np

        k_ = prune["topn"]
        plan = blk_plan.sort_values("ub", ascending=False, kind="mergesort")
        csum = plan["cap"].to_numpy().cumsum()
        take = int(np.searchsorted(csum, max(4 * k_, 256))) + 1
        n_map = max(len(mapping), 1)
        if take >= len(plan):
            return run(plan["blk"].to_numpy(),
                       est_rows=int(plan["cap"].sum()) * n_map)
        pass_a = plan.iloc[:take]
        rest = plan.iloc[take:]
        scored_a = run(
            pass_a["blk"].to_numpy(),
            est_rows=int(pass_a["cap"].sum()) * n_map,
        ).localCheckpoint()
        top_a = (
            scored_a.select("weight_raw")
            .orderBy(F.col("weight_raw").desc())
            .limit(k_)
            .collect()
        )
        if len(top_a) >= k_:
            tau = top_a[-1].weight_raw
            rest = rest[rest["ub"] >= tau]
        if len(rest) == 0:
            return scored_a
        if len(pass_a) + len(rest) >= 0.7 * occupied:
            # τ couldn't cut much: finish with an unfiltered scan for
            # the rest (avoids a huge broadcast block list)
            return scored_a.unionByName(
                run(None).join(
                    F.broadcast(
                        spark.createDataFrame(
                            [(int(b),) for b in pass_a["blk"]], "ablk long"
                        )
                    ),
                    F.expr(f"shiftrightunsigned(docid, {shift})") == F.col("ablk"),
                    "left_anti",
                )
            )
        return scored_a.unionByName(
            run(rest["blk"].to_numpy(),
                est_rows=int(rest["cap"].sum()) * n_map)
        )
    # presence-only filtering: skip when nearly every block survives
    if len(blk_plan) >= 0.7 * occupied:
        return run(None)
    return run(
        blk_plan["blk"].to_numpy(),
        est_rows=int(blk_plan["cap"].sum()) * max(len(mapping), 1),
    )


_ORDER_COLS = {"weight": "weight_raw", "date_insert": "date_insert",
               "date_modify": "date_modify"}


def search(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    limit: int = 20,
    offset: int = 0,
    langs: list[str] | None = None,
    order_by: str = "weight",
    sort: str = "desc",
    now_ts: int = 0,
    categories: list[str] | None = None,
    _ctx: dict | None = None,
    _scored: DataFrame | None = None,
) -> DataFrame:
    """Full search path → hydrated top-k result DataFrame (rank-ordered).

    order_by/sort whitelist mirrors SphinxSearchEngine_class.php:16-18;
    limit is capped at MATCH_CAP (the reference's limit=1000, :169).
    """
    limit = min(limit, MATCH_CAP)
    if _scored is not None:
        scored = _scored
    else:
        prune = {
            "topn": offset + limit,
            "order": order_by if order_by in _ORDER_COLS else "weight",
            "sort": "desc" if sort == "desc" else "asc",
        }
        scored = score_matches(
            spark, index_dir, query, langs, now_ts, prune=prune, _ctx=_ctx,
            categories=categories,
        )
    col = _ORDER_COLS.get(order_by, "weight_raw")
    ordc = F.col(col).desc() if sort == "desc" else F.col(col).asc()
    topk = scored.orderBy(ordc, F.col("docid").asc()).limit(offset + limit)
    # offset on the already-truncated set (Q10)
    from pyspark.sql import Window

    w = Window.orderBy(ordc, F.col("docid").asc())
    topk = (
        topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") > offset)
    )
    docs = _ctx.get("docs_df") if _ctx else None
    if docs is None:
        docs = live_docs(spark, index_dir)
    docs = docs.select("docid", "repo", "path", "commit", "content_sha", "category")
    out = docs.join(
        F.broadcast(topk.select("rank", "docid", "score", "weight_raw", "lang",
                                "date_insert", "date_modify")),
        "docid",
    )
    return out.select(*RESULT_COLS).orderBy("rank")  # Q15 rank preserved


def search_with_meta(spark, index_dir, query, _ctx=None, **kw):
    """search + SHOW META analog (Q11 total, Q12 per-keyword stats,
    `time` = seconds spent matching+ranking, like the reference's SHOW
    META time row, SphinxSearchEngine_class.php:202-221).

    Single scoring pass: the exhaustive match set is cached, counted for
    `total`, and re-used for the top-k selection.  The top-k result is
    pinned with localCheckpoint (data stays on executors) rather than a
    driver collect round-trip."""
    import time as _time

    if isinstance(query, str):
        query = parse_query(query)
    layout = IndexLayout(index_dir)
    meta: dict = {"total": 0, "keywords": [], "time": 0.0}
    if query.blank or not query.groups:
        return search(spark, index_dir, query, _ctx=_ctx, **kw), meta
    t0 = _time.monotonic()
    scored = score_matches(
        spark, index_dir, query, kw.get("langs"), kw.get("now_ts", 0),
        _ctx=_ctx, categories=kw.get("categories"),
    ).cache()
    try:
        meta["total"] = scored.count()
        res = search(spark, index_dir, query, _ctx=_ctx, _scored=scored, **kw)
        # materialize before unpersist (the plan references the cache);
        # eager localCheckpoint keeps the k rows executor-side
        res = res.localCheckpoint(eager=True)
    finally:
        scored.unpersist()
    # measured wall of the matching+ranking actions; NEVER part of any
    # score (determinism invariant — wall clock must not affect results)
    meta["time"] = round(_time.monotonic() - t0, 4)
    dict_pdf = _ctx.get("dict_pdf") if _ctx else None
    _, stats, _b = _expand_groups(spark, layout, query, dict_pdf)
    for g in query.groups:
        for a in g.alts:
            w0 = a.words[0]
            if a.kind == "exact":
                s = stem_token(w0)
                if s == w0:  # exact stats live on the stem row
                    st = stats.get(w0, (0, 0, 0, 0, 0))
                    df_, hits = st[3], st[4]
                else:
                    st = stats.get(EXACT_PREFIX + w0, (0, 0, 0, 0, 0))
                    df_, hits = st[0], st[1]
            else:
                st = stats.get(stem_token(w0), (0, 0, 0, 0, 0))
                df_, hits = st[0], st[1]
            meta["keywords"].append({"keyword": w0, "docs": df_, "hits": hits})
    return res, meta
