"""Seeded inputs for the perfbench workloads.

Everything here is a pure function of its arguments: the same seed gives the
same corpus and the same query mix, byte for byte.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _charabia_bench_texts() -> list:
    """charabia's own bench texts (charabia/benches/bench.rs), as transcribed
    in bench/tokenize_throughput.py. Loaded by path: the top-level bench.py
    shadows the bench/ directory as a package name."""
    spec = importlib.util.spec_from_file_location(
        "_tokenize_throughput", os.path.join(ROOT, "bench", "tokenize_throughput.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.DATA_SET


PROSE_LANGS = ("cmn", "jpn", "kor", "tha", "khm", "ara", "heb", "ell")


def prose_docs(n: int, seed: int) -> list[tuple[str, str]]:
    """(lang, text) prose documents stitched from the charabia bench texts
    of PROSE_LANGS, 1-3 passages each plus a numeric salt, so no two docs
    are byte-identical."""
    by_lang: dict = {}
    for _script, lang, text in _charabia_bench_texts():
        if lang in PROSE_LANGS:
            by_lang.setdefault(lang, []).append(text)
    rng = np.random.default_rng((seed, 7))
    out = []
    for _ in range(n):
        lang = PROSE_LANGS[int(rng.integers(0, len(PROSE_LANGS)))]
        texts = by_lang[lang]
        parts = [texts[int(rng.integers(0, len(texts)))]
                 for _ in range(int(rng.integers(1, 4)))]
        out.append((lang, " ".join(parts) + f" {int(rng.integers(0, 10**6))}"))
    return out


def code_and_prose_corpus(n_docs: int, seed: int, prose_share: float = 0.05):
    """pandas frame (doc_id, text, lang, n_chars): `sparkft.corpus`'s
    seeded source-code corpus plus `prose_share` of prose docs, ids 0..n-1.
    `kind` marks each row as 'code' or 'prose'."""
    import pandas as pd

    from sparkft.corpus import generate_corpus

    n_prose = int(round(n_docs * prose_share))
    code = generate_corpus(n_docs - n_prose, seed=seed)
    prose = prose_docs(n_prose, seed)
    texts = code["content"].tolist() + [t for _, t in prose]
    langs = code["lang"].tolist() + [lang for lang, _ in prose]
    kinds = ["code"] * len(code) + ["prose"] * n_prose
    return pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": langs,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "kind": kinds,
    })


# ---------------------------------------------------------------------------
# query mixes over the code corpus vocabulary
# ---------------------------------------------------------------------------

def _vocab():
    from sparkft.corpus import _KEYWORDS, _STEMS

    kw_p = 1.0 / np.arange(1, len(_KEYWORDS) + 1)
    return list(_KEYWORDS), kw_p / kw_p.sum(), list(_STEMS)


def _word(rng, keywords, kw_p, stems) -> str:
    r = rng.random()
    if r < 0.4:
        return keywords[int(rng.choice(len(keywords), p=kw_p))]
    if r < 0.9:
        return stems[int(rng.integers(0, len(stems)))]
    return f"sym{int(rng.integers(0, 99991))}"


def _typo(rng, word: str) -> str:
    """One edit (swap, drop or replace) inside the word."""
    i = int(rng.integers(1, len(word) - 1))
    op = int(rng.integers(0, 3))
    if op == 0:
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    if op == 1:
        return word[:i] + word[i + 1:]
    return word[:i] + "xq"[int(rng.integers(0, 2))] + word[i + 1:]


# (kind, share) of the serving mix; phrase queries only where the index
# keeps positions
SERVE_MIX = (("bm25", 0.50), ("typo", 0.15), ("filter_facet", 0.10),
             ("sayt", 0.10), ("phrase", 0.10), ("sort", 0.05))
INGEST_MIX = (("bm25", 0.60), ("typo", 0.15), ("filter_facet", 0.10),
              ("sayt", 0.10), ("sort", 0.05))


def query_mix(n: int, seed: int, mix, phrase_texts=(), langs=()):
    """n seeded (kind, query, lang) triples in the proportions of `mix`
    (shares in twentieths). Phrase
    queries quote two adjacent words of a text from `phrase_texts`; filter
    queries pick their `lang` value from `langs`."""
    import re

    keywords, kw_p, stems = _vocab()
    long_words = [w for w in keywords + stems if len(w) >= 5]
    # stratified: every block of 20 queries holds each kind in its exact
    # share, in a seeded order, so no seed over- or under-samples a kind
    block = [k for k, share in mix for _ in range(int(round(share * 20)))]
    rng = np.random.default_rng((seed, 11))
    out = []
    for j in range(n):
        if j % len(block) == 0:
            order = rng.permutation(len(block))
        kind = block[order[j % len(block)]]
        words = [_word(rng, keywords, kw_p, stems)
                 for _ in range(int(rng.integers(1, 4)))]
        lang = None
        if kind == "typo":
            words[0] = _typo(rng, long_words[int(rng.integers(0, len(long_words)))])
        elif kind == "sayt":
            last = stems[int(rng.integers(0, len(stems)))]
            words[-1] = last[:int(rng.integers(2, len(last) + 1))]
        elif kind == "phrase":
            text = phrase_texts[int(rng.integers(0, len(phrase_texts)))]
            toks = re.findall(r"[a-z]+", text.lower())
            i = int(rng.integers(0, max(len(toks) - 1, 1)))
            out.append((kind, '"' + " ".join(toks[i:i + 2]) + '"', None))
            continue
        elif kind == "filter_facet":
            lang = langs[int(rng.integers(0, len(langs)))]
        out.append((kind, " ".join(words), lang))
    return out
