"""On-disk index layout (SURVEY.md §1.5).

The reference's RT index (RAM segment + disk chunks, sphinx.conf:6) maps to
a directory of immutable parquet *segments* plus a tombstone table:

    index_dir/
      meta.json                     # engine config, live segment list, stats
      segments/<seg>/postings/bucket=<b>/*.parquet
      segments/<seg>/dict/bucket=<b>/*.parquet
      segments/<seg>/docs/*.parquet
      tombstones/*.parquet          # (docid, asof_seq): docid dead in all
                                    # segments with seq < asof_seq
      manifests/<seg>.json          # per-partition lineage for resume

Postings rows are hash-bucketed by term — a query prunes its scan to the
buckets of its query terms (the partition-pruning analog of Sphinx's
wordlist lookup).  Within each bucket, files are sorted by (term, field,
docid) so a reader sees a small number of sorted runs (one per build
salt), ready for merge/WAND iteration.

Postings denormalize the scoring attributes (lang, date_insert,
date_modify — the reference's rt_attr columns, sphinx.conf:10-14) so the
entire match+rank path is join-free until top-k hydration.  That trades
~10% index size for removing a docid-keyed shuffle per query — the right
trade at 10^12 docs where the attribute table cannot be broadcast.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from sphinxsearchengine_spark.config import DEFAULT_TERM_BUCKETS, FIELD_WEIGHTS

DICT_COLS = ["bucket", "term", "df", "hits", "max_tf", "exact_df", "exact_hits"]


@dataclass
class IndexMeta:
    n_docs: int = 0
    term_buckets: int = DEFAULT_TERM_BUCKETS
    segments: list = field(default_factory=list)  # ordered [{name, seq, n_docs}]
    field_weights: dict = field(default_factory=lambda: dict(FIELD_WEIGHTS))
    next_seq: int = 0
    n_tombstones: int = 0  # query fast path skips anti-join when 0
    # docid -> block id is (docid as uint64) >> block_shift; chosen at
    # first build so a block holds ~POSTINGS_BLOCK docs, constant across
    # all segments of one index (block-max metadata, SURVEY.md §1.5).
    # None on legacy indexes (planner then skips block pruning).
    block_shift: int | None = None

    def save(self, index_dir: str) -> None:
        from sphinxsearchengine_spark import fs

        fs.write_json_atomic(os.path.join(index_dir, "meta.json"), asdict(self))

    @classmethod
    def load(cls, index_dir: str) -> "IndexMeta":
        from sphinxsearchengine_spark import fs

        return cls(**json.loads(fs.read_text(os.path.join(index_dir, "meta.json"))))


class IndexLayout:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    def segment_dir(self, seg: str) -> str:
        return os.path.join(self.index_dir, "segments", seg)

    def postings(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "postings")

    def dict(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "dict")

    def blockmax(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "blockmax")

    def docs(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "docs")

    def tombstones(self) -> str:
        return os.path.join(self.index_dir, "tombstones")

    def manifest(self, seg: str) -> str:
        return os.path.join(self.index_dir, "manifests", f"{seg}.json")

    def exists(self) -> bool:
        from sphinxsearchengine_spark import fs

        return fs.exists(os.path.join(self.index_dir, "meta.json"))

    @property
    def meta(self) -> IndexMeta:
        return IndexMeta.load(self.index_dir)
