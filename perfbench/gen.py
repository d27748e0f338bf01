"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed and returns plain pandas/python
values; the engine only ever sees these generated inputs.  The same seed
always yields the same inputs (numpy ``default_rng`` streams keyed by
``(seed, purpose)``), and different purposes never share a stream, so
resizing one input does not shift another.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["python", "php", "rust", "go", "java"]
_EXT = {"python": "py", "php": "php", "rust": "rs", "go": "go", "java": "java"}
_BLENDS = "_-&+@$"
_RU = (
    "поиск запрос индекс слово документ база данные система машина книга "
    "страница категория заголовок текст число время работа файл строка"
).split()
_SYLL = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]

# purposes: distinct streams per generated input
_CORPUS, _QUERIES, _EDITS, _CURATE = 1, 2, 3, 4


def _rng(seed: int, purpose: int, *more: int) -> np.random.Generator:
    return np.random.default_rng([seed, purpose, *more])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct lowercase pseudo-words of 2-4 syllables."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYLL[i] for i in rng.integers(0, len(_SYLL), k)))
    # shuffled, so Zipf rank is independent of spelling
    return rng.permutation(np.array(sorted(words), dtype=object))


def corpus(seed: int, n_docs: int, vocab_size: int = 6000,
           first_id: int = 0) -> pd.DataFrame:
    """Source-code-like corpus ``(repo, path, commit, lang, content)``.

    Content draws words from a Zipf(1.1) vocabulary so the dictionary
    spans every df band (a hot head in most docs, a long df<=3 tail),
    mixed with blend-char identifiers, Russian words and numbers.
    ``first_id`` offsets the path numbering so generated edit batches
    can insert docs whose docids do not collide with the base corpus.
    """
    rng = _rng(seed, _CORPUS, first_id)
    vocab = _vocab(_rng(seed, _CORPUS), vocab_size)
    rank = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = rank ** -1.1
    p /= p.sum()
    lens = rng.integers(30, 120, n_docs)
    total = int(lens.sum())
    words = vocab[rng.choice(vocab_size, total, p=p)]
    kind = rng.random(total)
    ident = kind < 0.08
    n_id = int(ident.sum())
    words[ident] = [
        f"{a}{b}{c}" for a, b, c in zip(
            vocab[rng.integers(0, 50, n_id)],
            np.array(list(_BLENDS))[rng.integers(0, len(_BLENDS), n_id)],
            vocab[rng.integers(0, 50, n_id)],
        )
    ]
    ru = (kind >= 0.08) & (kind < 0.14)
    words[ru] = np.array(_RU, dtype=object)[rng.integers(0, len(_RU), int(ru.sum()))]
    num = (kind >= 0.14) & (kind < 0.17)
    words[num] = rng.integers(0, 100_000, int(num.sum())).astype(str)
    ends = np.cumsum(lens)
    content = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    ids = np.arange(first_id, first_id + n_docs)
    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)]
    hexd = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    commits = hexd[rng.integers(0, 16, (n_docs, 40))].view("S40").ravel()
    return pd.DataFrame({
        "repo": [f"org{i % 5}/repo{i % 37}" for i in ids],
        "path": [f"src/mod{i % 13}/file_{i}.{_EXT[lg]}" for i, lg in zip(ids, lang)],
        "commit": [c.decode() for c in commits],
        "lang": lang,
        "content": content,
    })


def hot_words(seed: int, k: int, vocab_size: int = 6000) -> list[str]:
    """The ``k`` most frequent vocabulary words of ``corpus(seed, ...)``:
    the head of its Zipf ranks."""
    return list(_vocab(_rng(seed, _CORPUS), vocab_size)[:k])


QUERY_CLASSES = [
    "hot", "and", "phrase", "prefix", "field", "selective", "rare",
    "or_exact", "filtered", "facet", "unpinned",
]


def df_bands(dict_pdf: pd.DataFrame, n_docs: int) -> dict[str, list[str]]:
    """Split the built dictionary's plain alphabetic terms into df bands.

    ``dict_pdf`` has ``term, df`` (stems; exact ``=form`` rows and
    identifier/number terms are left out).  Bands are narrow, so that a
    class costs about the same whichever terms a seed draws: hot 20-40%
    of docs, mid 1-3%, rare df <= 3.
    """
    d = dict_pdf[dict_pdf.term.str.fullmatch(r"[a-z]{4,}")]
    d = d.groupby("term", as_index=False)["df"].sum().sort_values("term")
    frac = d.df / n_docs
    return {
        "hot": d.term[(frac >= 0.20) & (frac <= 0.40)].tolist(),
        "mid": d.term[(frac >= 0.01) & (frac <= 0.03)].tolist(),
        "rare": d.term[d.df <= 3].tolist(),
    }


def query_mix(seed: int, bands: dict[str, list[str]], contents: list[str],
              rounds: int) -> list[tuple[str, str, dict]]:
    """``rounds`` rounds of queries ``(class, query, kwargs)``.

    Each round holds every class once, in a seeded order:
    no query log exists for this engine, so the class mix is uniform.
    Terms are drawn from the dictionary df bands, phrases from adjacent
    words of a drawn document.
    """
    rng = _rng(seed, _QUERIES)

    def pick(band: str) -> str:
        b = bands[band]
        return b[int(rng.integers(0, len(b)))]

    out = []
    for _ in range(rounds):
        for k in rng.permutation(len(QUERY_CLASSES)):
            cls = QUERY_CLASSES[k]
            kw: dict = {}
            if cls == "hot":
                q = pick("hot")
            elif cls == "and":
                q = f"{pick('hot')} {pick('hot')}"
            elif cls == "phrase":
                ws = [w for w in contents[int(rng.integers(0, len(contents)))].split()
                      if w.isalpha() and w.isascii()]
                i = int(rng.integers(0, max(len(ws) - 1, 1)))
                q = '"' + " ".join(ws[i:i + 2]) + '"'
            elif cls == "prefix":
                q = pick("hot")[:4] + "*"
            elif cls == "field":
                q = f"@title file_{int(rng.integers(1, 10))}*"
            elif cls == "selective":
                q = f"{pick('rare')} {pick('hot')}"
            elif cls == "rare":
                q = pick("rare")
            elif cls == "or_exact":
                q = f"={pick('mid')}|{pick('mid')}"
            elif cls == "filtered":
                q = pick("mid")
                langs = sorted(rng.choice(LANGS, 2, replace=False).tolist())
                kw = {"langs": langs, "order_by": "date_insert", "sort": "desc",
                      "offset": 5}
            elif cls == "facet":
                q = pick("mid")
            else:  # unpinned: module-level executor, no Searcher pins
                q = f"{pick('mid')} {pick('hot')}"
            out.append((cls, q, kw))
    return out


def docid(repo: str, path: str, commit: str) -> int:
    """The engine's docid for a corpus row: signed low 64 bits of
    md5(repo, path, commit), as ``corpus.derive_documents`` computes it."""
    h = hashlib.md5(f"{repo}\x1f{path}\x1f{commit}".encode()).hexdigest()
    v = int(h[16:], 16)
    return v - (1 << 64) if v >= 1 << 63 else v


def edit_batch(seed: int, cycle: int, live: pd.DataFrame, next_id: int,
               n_replace: int, n_insert: int, n_delete: int):
    """One seeded edit batch against the live corpus rows ``live``.

    Returns ``(upserts, deleted, planted)``.  ``upserts`` is a corpus
    frame: replacements keep a live row's repo/path/commit (so its
    docid) with new content, inserts get fresh path ids from ``next_id``.
    Every upserted doc carries a unique planted term ``zqe<cycle>x<i>``,
    so its visibility can be checked by search.  ``deleted`` are live
    rows, disjoint from the replaced ones.
    """
    rng = _rng(seed, _EDITS, cycle)
    pick = rng.permutation(len(live))
    repl = live.iloc[pick[:n_replace]]
    deleted = live.iloc[pick[n_replace:n_replace + n_delete]].reset_index(drop=True)
    fresh = corpus(seed, n_replace + n_insert, first_id=next_id)
    fresh.loc[:n_replace - 1, ["repo", "path", "commit", "lang"]] = (
        repl[["repo", "path", "commit", "lang"]].to_numpy()
    )
    planted = [f"zqe{cycle}x{i}" for i in range(len(fresh))]
    fresh["content"] = [f"{c} {t}" for c, t in zip(fresh.content, planted)]
    return fresh, deleted, planted


def curate_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Driver-fixture-shaped ``documents`` table
    ``(doc_id, text, lang, source, n_chars)``: the fixture's 31-word
    vocabulary and length range, its language mix, and planted
    near-duplicate clusters (~4.5% of docs are a 1-2 word mutation of
    another doc), built the way ``scripts/make_scaled_sf.py`` builds it.
    """
    vocab = (
        "a agg batch big column customer data dup fast filter group hash join "
        "key line merge order part query row scan slow small sort spark stream "
        "table the value vector window"
    ).split()
    rng = _rng(seed, _CURATE)
    lens = rng.integers(10, 100, n_docs)
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"], dtype=object)
    lang = langs[rng.integers(0, len(langs), n_docs)]
    words = np.array(vocab, dtype=object)[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    n_dup = int(0.045 * n_docs)
    for d, s in zip(rng.choice(n_docs, n_dup, replace=False),
                    rng.integers(0, n_docs, n_dup)):
        if d == s:
            continue
        toks = texts[s].split()
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts[d] = " ".join(toks)
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs.text.str.len().astype(np.int64)
    return docs
