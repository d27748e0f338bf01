"""Packed postings exchange: the build's one wide shuffle.

Shuffling one UnsafeRow per posting — (term, field, docid, tf,
exact_tf, pos_vb, lang, date_insert, date_modify, bucket, salt) — costs
~104 raw bytes each, measured 4005 compressed bytes/doc on the
(bucket, salt) exchange.  At 10^12 docs that exchange IS the build's
scaling ceiling, so this module ships a packed payload instead and the
reducer rebuilds the on-disk postings rows from it:

1. **Group packing**: map tasks group postings by (term, docid-salt)
   and ship ONE row per group — ``(bucket, salt, term, blob)`` — where
   ``blob`` is a columnar byte layout of the group's postings::

       u32      n
       i64[n]   docid          (little-endian)
       u8[n]    field
       u32[n]   tf
       u32[n]   exact_tf
       u32[n]   pos_len
       bytes    pos_vb concat  (sum(pos_len) bytes)

   The term string and the per-row serialization overhead are paid once
   per group instead of once per posting, and the columnar sections
   (mostly-1 tf, tiny pos_len, repeated field ids) are what lz4 eats
   best.

2. **Attr sideband**: lang / date_insert / date_modify are PER-DOC
   attributes a row-per-posting exchange would repeat on every posting
   (~120× per doc).  They ship once per (docid, bucket-touched) in
   dedicated attr rows (``term = NULL``) keyed to the same (bucket, salt)
   partitioning, blob layout::

       u32      n
       i64[n]   docid
       i64[n]   date_insert
       i64[n]   date_modify
       u8[n]    lang_len
       bytes    lang utf8 concat

   The reducer rebuilds the docid -> attrs map (exact: salt is a pure
   function of docid and bucket rides on the row, so attr rows land in
   precisely the partitions whose postings need them) and re-attaches
   the columns before writing — the postings PARQUET files keep the
   identical denormalized schema the query path pushes filters into.

Bucket/salt are pure Python-side functions (bucket = md5-low64(term)
mod nb, salt = splitmix64(docid) mod salt_factor); readers take bucket
from the stored dictionary, never recompute it.  The reducer decode is
fully vectorized: section offsets are computed from the Arrow binary
column's own offset buffer and gathered with repeat/arange indexing —
no per-posting Python anywhere (BASELINE.json input_hint).

tests/test_packed.py checks the written postings, blockmax and dict
against the pure-Python reference tokenizer
(builder._tokenize_batch_ref) rolled up in pandas.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from sphinxsearchengine_spark.npsort import int_order

PACKED_SCHEMA = "bucket int, salt int, term string, blob binary"

_U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array (public
    constants, Steele et al. 'Fast splittable pseudorandom number
    generators')."""
    err = np.seterr(over="ignore")
    try:
        z = x + _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        return z ^ (z >> _U64(31))
    finally:
        np.seterr(**err)


def salt_of_docid(docid: np.ndarray, salt_factor: int) -> np.ndarray:
    return (splitmix64(docid.astype(np.uint64)) % _U64(salt_factor)).astype(
        np.int32
    )


def term_hashes(uniq_terms) -> np.ndarray:
    """Term -> md5-low64 (the ONE shared implementation in hashing.py;
    buckets are resolved from the stored dictionary at query time, never
    recomputed, so any deterministic uniform 64-bit hash would work —
    sharing the impl just keeps the two definitions from drifting)."""
    from sphinxsearchengine_spark.hashing import md5_low64_many

    return md5_low64_many(uniq_terms)


def _group_bounds(*keys):
    """Start indices + counts of equal-key runs over pre-sorted arrays."""
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(change)
    counts = np.diff(np.append(starts, n))
    return starts, counts


def pack_batch(out: dict, nb: int, salt_factor: int):
    """Flat postings columns (from _batch_postings_columns) -> packed
    exchange rows (one Arrow RecordBatch): posting-group rows + attr
    sideband rows.

    r6: the attr-sideband dedupe is an int64 lexsort + consecutive-run
    filter — the r5 ``np.unique(pairs, axis=0)`` argsorted a void dtype
    at ~4.4 s per 2.4M-posting batch (~80%% of this function's cost);
    and the per-posting pos lengths ride in from the tokenizer
    (``pos_len``) instead of a 2.4M-element ``len()`` fromiter.
    """
    import pyarrow as pa

    tcodes, uniq = pd.factorize(out["term"], sort=False)
    tcodes = tcodes.astype(np.int64)
    uh = term_hashes(uniq)
    ubucket = (uh % _U64(nb)).astype(np.int32)
    docid = out["docid"].astype(np.int64)
    salt = salt_of_docid(docid, salt_factor)
    field = out["field"].astype(np.uint8)
    tf = out["tf"].astype("<u4")
    etf = out["exact_tf"].astype("<u4")
    # contiguous per-batch blob + per-posting lengths straight from the
    # tokenizer (r6) — no 2M-bytes-object join
    posbuf = np.frombuffer(out["pos_blob"], dtype=np.uint8)
    pl = out["pos_len"].astype(np.int64)
    pstart = np.cumsum(pl) - pl

    # (tcodes, salt, field, docid) tuples are unique — one posting per
    # (term, field, docid) — so the packed-key quicksort == lexsort
    order = int_order(docid, field, salt, tcodes)
    t_s = tcodes[order]
    s_s = salt[order]
    d_b = docid[order].astype("<i8").tobytes()
    f_b = field[order].tobytes()
    tf_b = tf[order].tobytes()
    etf_b = etf[order].tobytes()
    pl_s = pl[order]
    pl_b = pl_s.astype("<u4").tobytes()
    tot = int(pl_s.sum())
    if tot:
        rep = np.repeat(pstart[order], pl_s)
        intra = np.arange(tot, dtype=np.int64) - np.repeat(
            np.cumsum(pl_s) - pl_s, pl_s
        )
        pos_sorted = posbuf[rep + intra].tobytes()
    else:
        pos_sorted = b""
    pos_off = np.concatenate(([0], np.cumsum(pl_s))).astype(np.int64)

    gstart, gcnt = _group_bounds(t_s, s_s)
    uniq_arr = np.asarray(uniq, dtype=object)
    ng = len(gstart)
    buckets, salts, blobs = [], [], []
    pack_u32 = struct.Struct("<I").pack
    for st, cn in zip(gstart.tolist(), gcnt.tolist()):
        en = st + cn
        blobs.append(
            b"".join(
                (
                    pack_u32(cn),
                    d_b[st * 8:en * 8],
                    f_b[st:en],
                    tf_b[st * 4:en * 4],
                    etf_b[st * 4:en * 4],
                    pl_b[st * 4:en * 4],
                    pos_sorted[pos_off[st]:pos_off[en]],
                )
            )
        )
        buckets.append(int(ubucket[t_s[st]]))
        salts.append(int(s_s[st]))

    # ---- attr sideband: one row per (bucket, salt) carrying every
    # distinct (docid, bucket-touched) attr tuple of this batch.
    # Dedupe = int64 lexsort + consecutive-run filter (attrs are per-doc
    # constants within a batch, so which occurrence survives is
    # irrelevant; the sorted order matches the old np.unique output).
    pbucket = ubucket[tcodes].astype(np.int64)
    # ties within a (bucket, docid) run may permute vs lexsort — the
    # dedupe below keeps an arbitrary survivor, whose attrs are per-doc
    # constants, so the output is unchanged
    po = int_order(docid, pbucket)
    pb_s, pd_s = pbucket[po], docid[po]
    keep = np.ones(len(po), dtype=bool)
    keep[1:] = (pb_s[1:] != pb_s[:-1]) | (pd_s[1:] != pd_s[:-1])
    sel = po[keep]
    a_bucket = pb_s[keep].astype(np.int32)
    a_docid = pd_s[keep]
    a_salt = salt_of_docid(a_docid, salt_factor)
    a_di = out["date_insert"][sel].astype(np.int64)
    a_dm = out["date_modify"][sel].astype(np.int64)
    lcodes, luniq = pd.factorize(out["lang"][sel], sort=False)
    lbytes = [str(s).encode() for s in luniq]
    llen = np.asarray([len(b) for b in lbytes], dtype=np.uint8)

    aorder = int_order(a_docid, a_salt, a_bucket)  # unique keys
    ab = a_bucket[aorder]
    asl = a_salt[aorder]
    ad_b = a_docid[aorder].astype("<i8").tobytes()
    adi_b = a_di[aorder].astype("<i8").tobytes()
    adm_b = a_dm[aorder].astype("<i8").tobytes()
    lc_s = lcodes[aorder]
    ll_b = llen[lc_s].tobytes()
    astart, acnt = _group_bounds(ab, asl)
    na = len(astart)
    for st, cn in zip(astart.tolist(), acnt.tolist()):
        en = st + cn
        blobs.append(
            b"".join(
                (
                    pack_u32(cn),
                    ad_b[st * 8:en * 8],
                    adi_b[st * 8:en * 8],
                    adm_b[st * 8:en * 8],
                    ll_b[st:en],
                    b"".join(lbytes[c] for c in lc_s[st:en].tolist()),
                )
            )
        )
        buckets.append(int(ab[st]))
        salts.append(int(asl[st]))

    term_codes = np.concatenate(
        (t_s[gstart], np.zeros(na, dtype=np.int64))
    ).astype(np.int32)
    null_mask = np.concatenate(
        (np.zeros(ng, dtype=bool), np.ones(na, dtype=bool))
    )  # attr rows carry term = NULL
    term_arr = pa.DictionaryArray.from_arrays(
        pa.array(term_codes, pa.int32(), mask=null_mask),
        pa.array(uniq_arr, pa.string()),
    ).cast(pa.string())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.asarray(buckets, dtype=np.int32), pa.int32()),
            pa.array(np.asarray(salts, dtype=np.int32), pa.int32()),
            term_arr,
            pa.array(blobs, pa.binary()),
        ],
        names=["bucket", "salt", "term", "blob"],
    )


def packed_tokenize(nb: int, salt_factor: int):
    """mapInArrow generator factory: documents -> packed exchange rows
    (was mapInPandas in r5; Arrow in/out skips two pandas Block-manager
    conversions per batch)."""
    from sphinxsearchengine_spark.index.builder import _batch_postings_columns

    def gen(batch_iter):
        for batch in batch_iter:
            pdf = batch.to_pandas()
            out = _batch_postings_columns(pdf)
            if len(out["term"]) == 0:
                continue
            yield pack_batch(out, nb, salt_factor)

    return gen


# ---------------------------------------------------------------------------
# Reducer side

def _binary_view(arr):
    """(offsets int64 array of len+1, data uint8 array) for a
    single-chunk Arrow Binary/LargeBinary array, honoring slice offset."""
    import pyarrow as pa

    width, dt = (8, "<i8") if pa.types.is_large_binary(arr.type) else (4, "<i4")
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dt, len(arr) + 1, arr.offset * width).astype(
        np.int64
    )
    data = (
        np.frombuffer(bufs[2], np.uint8)
        if bufs[2] is not None
        else np.empty(0, np.uint8)
    )
    return offs, data


def _gather(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """data[starts[i] : starts[i]+lens[i]] for all i, concatenated —
    one fancy-index, no per-row Python."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint8)
    rep = np.repeat(starts, lens)
    intra = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    return data[rep + intra]


def _lang_codes(ll: np.ndarray, lb_all: np.ndarray, loff: np.ndarray):
    """Factorize per-row lang byte slices without decoding each row.

    ``ll``: per-row byte lengths; ``lb_all``: concatenated lang bytes;
    ``loff``: per-row start offsets.  Short strings (≤8 bytes — every
    real lang tag) are packed (len, first-8-bytes) into one u64 pair and
    uniqued numerically; only the unique values are utf8-decoded.  The
    r5 per-row ``bytes.decode`` loop cost ~0.7 s per 620k attr rows.
    """
    n = len(ll)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, object)
    if ll.max(initial=0) <= 8:
        pad = np.zeros((n, 8), dtype=np.uint8)
        tot = int(ll.sum())
        if tot:
            rep = np.repeat(np.arange(n), ll)
            intra = np.arange(tot, dtype=np.int64) - np.repeat(
                np.cumsum(ll) - ll, ll
            )
            pad[rep, intra] = lb_all[np.repeat(loff, ll) + intra]
        key = pad.view("<i8")[:, 0]
        # exact unique on the (bytes, len) pair: two-key int lexsort +
        # run bounds (no packed-key collisions possible)
        o = np.lexsort((ll, key))
        k_s, l_s = key[o], ll[o]
        new = np.ones(n, dtype=bool)
        new[1:] = (k_s[1:] != k_s[:-1]) | (l_s[1:] != l_s[:-1])
        gidx = np.cumsum(new) - 1
        inv = np.empty(n, dtype=np.int64)
        inv[o] = gidx
        first = o[new]
        uniq = np.asarray(
            [
                lb_all[loff[i]:loff[i] + ll[i]].tobytes().decode()
                for i in first
            ],
            dtype=object,
        )
        return inv, uniq
    vals = [
        lb_all[loff[i]:loff[i] + ll[i]].tobytes().decode() for i in range(n)
    ]
    codes, uniq = pd.factorize(np.asarray(vals, dtype=object), sort=False)
    return codes.astype(np.int64), np.asarray(uniq, dtype=object)


def _decode_attr_rows(blob_list):
    """Attr sideband rows -> docid-sorted lookup arrays."""
    adoc, adi, adm = [], [], []
    lls, lbs = [], []
    for b in blob_list:
        n = struct.unpack_from("<I", b, 0)[0]
        adoc.append(np.frombuffer(b, "<i8", n, 4))
        adi.append(np.frombuffer(b, "<i8", n, 4 + 8 * n))
        adm.append(np.frombuffer(b, "<i8", n, 4 + 16 * n))
        lls.append(np.frombuffer(b, np.uint8, n, 4 + 24 * n))
        lbs.append(np.frombuffer(b, np.uint8, len(b) - (4 + 25 * n), 4 + 25 * n))
    adoc = np.concatenate(adoc)
    adi = np.concatenate(adi)
    adm = np.concatenate(adm)
    ll_all = np.concatenate(lls).astype(np.int64)
    lb_all = np.concatenate(lbs)
    loff = np.cumsum(ll_all) - ll_all
    lcodes_all, luniq_all = _lang_codes(ll_all, lb_all, loff)
    # same docid may arrive once per touched bucket — dedupe (attrs equal)
    sidx = np.argsort(adoc, kind="stable")
    adoc_s = adoc[sidx]
    keep = np.ones(len(adoc_s), dtype=bool)
    keep[1:] = adoc_s[1:] != adoc_s[:-1]
    sel = sidx[keep]
    return (adoc_s[keep], adi[sel], adm[sel], lcodes_all[sel], luniq_all)


def _pos_binary_array(pl_sorted: np.ndarray, pos_data: np.ndarray):
    """Arrow binary column from per-posting lens + concatenated bytes
    (zero-copy from numpy buffers; large_binary when >2 GiB)."""
    import pyarrow as pa

    n = len(pl_sorted)
    total = int(pl_sorted.sum())
    if total < (1 << 31):
        offs = np.zeros(n + 1, dtype=np.int32)
        offs[1:] = np.cumsum(pl_sorted)
        typ = pa.binary()
    else:
        offs = np.zeros(n + 1, dtype=np.int64)
        offs[1:] = np.cumsum(pl_sorted)
        typ = pa.large_binary()
    return pa.Array.from_buffers(
        typ, n, [None, pa.py_buffer(offs), pa.py_buffer(pos_data)]
    )


def _task_write_parquet(base: str, bucket: int, pid: int, table) -> None:
    """Executor-side parquet write of one bucket's rows to
    ``base/bucket=<b>/part-<pid>.parquet``.

    The filename is DETERMINISTIC per shuffle partition, and the write
    goes through tmp+rename on rename-capable filesystems, so task
    retries / speculative attempts overwrite idempotently with
    bit-identical content (partition contents are a pure function of the
    deterministic hash partitioning and the (bucket,term,field,docid)
    sort; that key is unique per row, so the sort is total)."""
    import pyarrow.parquet as pq

    from sphinxsearchengine_spark import fs as _fs

    fname = f"part-{pid:05d}.parquet"
    if _fs.is_local(base):
        import os as _os

        d = _os.path.join(_fs.strip_file_scheme(base), f"bucket={bucket}")
        _os.makedirs(d, exist_ok=True)
        tmp = _os.path.join(d, f".{fname}.tmp")
        pq.write_table(table, tmp, compression="snappy")
        _os.replace(tmp, _os.path.join(d, fname))
    else:
        # object stores / HDFS from an executor: pyarrow.fs (the driver's
        # JVM-backed fs.py helpers are not reachable here).  PUT is
        # atomic on object stores; HDFS gets create-then-rename via
        # pyarrow's HadoopFileSystem semantics.
        from pyarrow import fs as pafs

        fsys, rel = pafs.FileSystem.from_uri(f"{base}/bucket={bucket}/{fname}")
        fsys.create_dir(rel.rsplit("/", 1)[0], recursive=True)
        pq.write_table(table, rel, filesystem=fsys, compression="snappy")


def packed_writer_and_rollup(postings_path: str, block_shift: int):
    """mapInArrow factory: packed exchange rows -> per-bucket sorted
    postings parquet side-output + per-(term, docid) rollup batches
    (builder.ROLLUP_SCHEMA).  Postings rows come out in (bucket, term,
    field, docid) total order with the attrs re-attached from the
    sideband."""

    def gen(batch_iter):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        batches = list(batch_iter)
        if not batches:
            return
        table = pa.Table.from_batches(batches)
        try:
            table = table.combine_chunks()
        except pa.lib.ArrowInvalid:
            # >2 GiB in one task's term/blob column (32-bit offsets
            # overflow): retry with 64-bit offset types
            for name, typ in (("term", pa.large_string()),
                              ("blob", pa.large_binary())):
                i = table.schema.get_field_index(name)
                table = table.set_column(
                    i, pa.field(name, typ), table.column(name).cast(typ)
                )
            table = table.combine_chunks()
        if table.num_rows == 0:
            return
        # posting/attr rows split by INDEX, not by two table.filter()
        # passes — each filter re-copied the whole ~20 MB blob column
        # per task (r6; the section gathers below only touch the rows
        # they're given, so filtering up front bought nothing).
        term_col = table.column("term").chunk(0)
        isattr_np = pc.is_null(term_col).to_numpy(zero_copy_only=False)
        post_idx = np.flatnonzero(~isattr_np)
        attr_idx = np.flatnonzero(isattr_np)
        if len(post_idx) == 0:
            return
        if len(attr_idx) == 0:
            raise RuntimeError(
                "packed exchange: partition has postings but no attr "
                "sideband rows (map side must emit both per (bucket, salt))"
            )
        offs, data = _binary_view(table.column("blob").chunk(0))
        (lk_doc, lk_di, lk_dm, lk_lc, lk_luniq) = _decode_attr_rows(
            [
                data[offs[i]:offs[i + 1]].tobytes()
                for i in attr_idx.tolist()
            ]
        )

        # ---- vectorized blob decode (posting rows only) ---------------
        starts = offs[:-1][post_idx]
        row_ends = offs[1:][post_idx]
        n_arr = (
            _gather(data, starts, np.full(len(starts), 4, dtype=np.int64))
            .view("<u4").astype(np.int64)
        )
        d0 = starts + 4
        f0 = d0 + 8 * n_arr
        t0 = f0 + n_arr
        e0 = t0 + 4 * n_arr
        p0 = e0 + 4 * n_arr
        pos0 = p0 + 4 * n_arr
        docid = _gather(data, d0, 8 * n_arr).view("<i8")
        field = _gather(data, f0, n_arr).astype(np.int64)
        tf = _gather(data, t0, 4 * n_arr).view("<u4").astype(np.int64)
        etf = _gather(data, e0, 4 * n_arr).view("<u4").astype(np.int64)
        pl = _gather(data, p0, 4 * n_arr).view("<u4").astype(np.int64)
        posdata = _gather(data, pos0, row_ends - pos0)
        pstart = np.cumsum(pl) - pl

        enc = pc.dictionary_encode(term_col)  # nulls never enter the dict
        rcode = (
            enc.indices.take(pa.array(post_idx, pa.int64()))
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
        runiq = np.asarray(enc.dictionary.to_pylist(), dtype=object)
        rank_of = np.empty(len(runiq), dtype=np.int64)
        rank_of[np.argsort(runiq, kind="stable")] = np.arange(len(runiq))

        pcode = np.repeat(rcode, n_arr)
        pbkt = np.repeat(
            table.column("bucket").chunk(0)
            .to_numpy(zero_copy_only=False).astype(np.int32)[post_idx],
            n_arr,
        )
        ai = np.searchsorted(lk_doc, docid)
        if (
            len(lk_doc) == 0
            or (len(ai) and int(ai.max()) >= len(lk_doc))
            or not np.array_equal(lk_doc[ai], docid)
        ):
            raise RuntimeError(
                "packed exchange: posting docid missing from attr sideband"
            )

        # unique (bucket, term, field, docid) keys — packed quicksort
        # orders identically to a stable lexsort
        order = int_order(docid, field, rank_of[pcode], pbkt)
        d_s = docid[order]
        f_s = field[order]
        tf_s = tf[order]
        etf_s = etf[order]
        pl_s = pl[order]
        c_s = pcode[order]
        b_s = pbkt[order]
        ai_s = ai[order]
        rep_start = pstart[order]
        pos_sorted = _gather(posdata, rep_start, pl_s)

        term_dict = pa.DictionaryArray.from_arrays(
            pa.array(c_s.astype(np.int32)), pa.array(runiq)
        )
        try:
            term_out = pc.cast(term_dict, pa.string())
        except pa.lib.ArrowInvalid:  # >2 GiB of term bytes in one task
            term_out = pc.cast(term_dict, pa.large_string())
        # the postings file schema; `bucket` lives in the directory name
        # (hive-style).  exact_tf: occurrences whose surface form equals
        # the term itself — index_exact_words=1 (sphinx.conf:19) without
        # doubling the row count.  A separate '=surface' row exists only
        # when stem(surface) != surface.
        out_tab = pa.table(
            {
                "term": term_out,
                "field": pa.array(f_s.astype(np.int32), pa.int32()),
                "docid": pa.array(d_s, pa.int64()),
                "tf": pa.array(tf_s.astype(np.int32), pa.int32()),
                "exact_tf": pa.array(etf_s.astype(np.int32), pa.int32()),
                "pos_vb": _pos_binary_array(pl_s, pos_sorted),
                "lang": pc.cast(
                    pa.DictionaryArray.from_arrays(
                        pa.array(lk_lc[ai_s].astype(np.int32)),
                        pa.array(lk_luniq),
                    ),
                    pa.string(),
                ),
                "date_insert": pa.array(lk_di[ai_s], pa.int64()),
                "date_modify": pa.array(lk_dm[ai_s], pa.int64()),
            }
        )
        pid = TaskContext.get().partitionId()
        bounds = np.flatnonzero(np.diff(b_s)) + 1
        bstarts = np.concatenate(([0], bounds))
        bends = np.concatenate((bounds, [len(b_s)]))
        for s, e in zip(bstarts, bends):
            _task_write_parquet(
                postings_path, int(b_s[s]), pid, out_tab.slice(s, e - s)
            )

        # ---- per-(term, docid) rollup ----------------------------------
        # unique (term-code, docid) pairs + inverse via int64 lexsort +
        # run bounds — np.unique(axis=0) argsorts a void dtype (~3 s per
        # 2.4M-posting partition, r6 profile); output order (code asc,
        # docid asc) and inverse semantics are identical
        # sort once by (code, docid) — ties (same pair from different
        # fields) aggregate with order-insensitive ops — then reduceat
        # over the runs.  The old np.add.at / bitwise_or.at scatter
        # loops were the rollup's hot spot (ufunc.at is an unvectorized
        # per-element loop, ~10x slower than reduceat; r6).
        o2 = int_order(d_s, c_s)
        c2, d2 = c_s[o2], d_s[o2]
        newp = np.ones(len(o2), dtype=bool)
        newp[1:] = (c2[1:] != c2[:-1]) | (d2[1:] != d2[:-1])
        rstarts = np.flatnonzero(newp)
        ucode, udoc = c2[rstarts], d2[rstarts]
        tfd = np.add.reduceat(tf_s[o2], rstarts)
        etfd = np.add.reduceat(etf_s[o2], rstarts)
        fmask = np.bitwise_or.reduceat((np.int64(1) << f_s)[o2], rstarts)
        dsum = np.maximum.reduceat((lk_di[ai_s] + lk_dm[ai_s])[o2], rstarts)
        bucket_u = b_s[o2[rstarts]].astype(np.int32)
        blk = (udoc.astype(np.uint64) >> np.uint64(block_shift)).astype(
            np.int64
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(bucket_u, pa.int32()),
                pa.array(runiq[ucode], pa.string()),
                pa.array(blk, pa.int64()),
                pa.array(tfd, pa.int64()),
                pa.array(etfd, pa.int64()),
                pa.array(fmask, pa.int64()),
                pa.array(dsum, pa.int64()),
            ],
            names=["bucket", "term", "blk", "tfd", "etfd", "fmask", "dsum"],
        )

    return gen
