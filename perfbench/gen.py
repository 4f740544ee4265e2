"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files. The program under test only ever sees the files.

* :func:`web_corpus` -- web-page-like docs for ``kg_corpus`` and
  ``dedup_crawl``. Content words come from a Zipfian vocabulary of
  pseudo-words (``VOCAB_SIZE`` of them, exponent ``ZIPF_S``), mixed with
  the chunker's function words and lexicon verbs so that noun chunks,
  verb spans and a non-trivial term dictionary form. A stated share of
  docs are planted exact clones and planted near-duplicates (one token
  replaced, shingle Jaccard >= 0.9 to their base).
* :func:`faq_export` -- a small FAQ JSON export in the reference's
  ``{"faqs": [...], "synonyms": {...}}`` shape, with alternate
  questions and synonyms.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from knowledgegraphgenerator_spark.core.chunker import (
    ADVERBS,
    AUX_VERBS,
    FUNCTION_WORDS,
    VERB_LEXICON,
)
from knowledgegraphgenerator_spark.core.lemmatize import verb_lemma
from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
from knowledgegraphgenerator_spark.core.textnorm import TREEBANK_SPLITS

VOCAB_SIZE = 12_000
ZIPF_S = 1.1
VOCAB_SEED = 20261017  # the vocabulary is fixed; corpora vary by seed

_ONSETS = list("bdfgkmnprtvz") + ["br", "dr", "gr", "kl", "pl", "st", "tr"]
_VOWELS = list("aeiou")
_FUNC = sorted(
    {"the", "of", "a", "to", "in", "for", "with", "on", "and", "from",
     "by", "at", "about", "into", "over", "between", "how", "what",
     "when", "where", "why", "my", "your", "their", "this", "that"}
)
_AUX = ["is", "are", "can", "do", "does", "should", "will", "could"]
_VERBS = sorted(VERB_LEXICON)


def _is_content_word(w: str, taken: set[str], stops: frozenset) -> bool:
    return not (
        w in taken or w in stops or w in FUNCTION_WORDS or w in AUX_VERBS
        or w in ADVERBS or w in TREEBANK_SPLITS or w.endswith("ly")
        or verb_lemma(w) in VERB_LEXICON
    )


@functools.cache
def vocabulary(size: int = VOCAB_SIZE) -> tuple[str, ...]:
    """``size`` distinct CV-syllable pseudo-words in Zipf rank order.
    They end in a vowel, so no lemma rule (-s, -ed, -ing) rewrites them,
    and none is a function word, auxiliary, adverb, lexicon verb or
    stop word."""
    rng = np.random.default_rng(VOCAB_SEED)
    stops = frozenset(resolve_stop_words("en", None))
    words: list[str] = []
    taken: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(5)]
            for _ in range(n_syl)
        )
        if _is_content_word(w, taken, stops):
            taken.add(w)
            words.append(w)
    return tuple(words)


def _zipf_p(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated web corpus.

    ``clone_frac`` of the docs are exact copies of a base doc and
    ``near_frac`` are one-token edits of a base doc; the rest (bases
    included) are unique. Doc ids are a seeded permutation, except that
    each base gets the smallest id of its family, as the first crawl of
    a page does."""

    n_docs: int
    min_tokens: int
    max_tokens: int
    n_files: int = 8
    clone_frac: float = 0.0
    near_frac: float = 0.0


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    kept_ids: frozenset[int]  # what crawl dedup must keep


def _token_stream(rng, vocab: tuple[str, ...], n: int) -> np.ndarray:
    """``n`` tokens: 25% function words, 7% auxiliaries, 10% lexicon
    verbs, 58% Zipfian content words. Runs of content words become the
    chunker's noun chunks; the rest split them and form verb spans."""
    r = rng.random(n)
    zipf = rng.choice(len(vocab), n, p=_zipf_p(len(vocab)))
    content = np.asarray(vocab)[zipf]
    func = np.asarray(_FUNC)[rng.integers(len(_FUNC), size=n)]
    aux = np.asarray(_AUX)[rng.integers(len(_AUX), size=n)]
    verb = np.asarray(_VERBS)[rng.integers(len(_VERBS), size=n)]
    return np.where(
        r < 0.25, func,
        np.where(r < 0.32, aux, np.where(r < 0.42, verb, content)),
    )


def shingles(tokens: list[str], n: int = 3) -> set[str]:
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def web_corpus(seed: int, spec: CorpusSpec) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    n_clone = int(spec.n_docs * spec.clone_frac)
    n_near = int(spec.n_docs * spec.near_frac)
    n_base = spec.n_docs - n_clone - n_near
    lengths = rng.integers(spec.min_tokens, spec.max_tokens + 1, n_base)
    stream = _token_stream(rng, vocab, int(lengths.sum())).tolist()
    bounds = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    docs = [stream[a:b] for a, b in zip(bounds, bounds[1:])]
    family = list(range(n_base))  # doc index -> its base doc index
    for _ in range(n_clone):
        b = int(rng.integers(n_base))
        docs.append(list(docs[b]))
        family.append(b)
    for _ in range(n_near):
        b = int(rng.integers(n_base))
        toks = list(docs[b])
        pos = int(rng.integers(len(toks)))
        new = toks[pos]
        while new == toks[pos]:
            new = vocab[int(rng.integers(len(vocab)))]
        toks[pos] = new
        if jaccard(shingles(toks), shingles(docs[b])) < 0.9:
            raise ValueError("near-duplicate below Jaccard 0.9; raise "
                             "min_tokens")
        docs.append(toks)
        family.append(b)

    ids = rng.permutation(spec.n_docs).astype(np.int64) + 1
    # the base of every family takes the family's smallest id
    members: dict[int, list[int]] = {}
    for i, b in enumerate(family):
        members.setdefault(b, []).append(i)
    for b, idx in members.items():
        if len(idx) > 1:
            lo = min(idx, key=lambda i: ids[i])
            ids[lo], ids[b] = ids[b], ids[lo]
    kept = frozenset(int(ids[b]) for b in range(n_base))
    return Corpus(ids, [" ".join(t) for t in docs], kept)


def write_corpus(corpus: Corpus, path: str, n_files: int) -> None:
    """Shuffle docs into ``n_files`` parquet files of
    (doc_id long, text string, lang string)."""
    os.makedirs(path, exist_ok=True)
    order = np.argsort(corpus.doc_ids, kind="stable")
    for f in range(n_files):
        sel = order[f::n_files]
        table = pa.table({
            "doc_id": pa.array(corpus.doc_ids[sel], pa.int64()),
            "text": pa.array([corpus.texts[i] for i in sel], pa.string()),
            "lang": pa.array(["en"] * len(sel), pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


FAQ_NOUNS = 10
_QUESTION_TEMPLATES = [
    "How do I {v} my {n1} {n2}?",
    "What is the {n1} {n2} for the {n3}?",
    "Can I {v} the {n1} {n2} from my {n3}?",
    "Where can I {v} a {n1} {n2}?",
    "Why does the {n1} {n2} {v} the {n3}?",
    "When should I {v} the {n3} for my {n1} {n2}?",
]


def faq_export(seed: int, n_faqs: int = 12) -> dict:
    """A FAQ export of ``n_faqs`` primaries, each with 0-2 alternates,
    drawn from ``FAQ_NOUNS`` domain nouns so that phrases repeat past
    the dictionary thresholds; 3 synonym entries."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    pool = FAQ_NOUNS
    nouns = [vocab[i] for i in rng.choice(200, pool, replace=False)]
    verbs = [_VERBS[i] for i in rng.choice(len(_VERBS), 6, replace=False)]

    def question() -> str:
        t = _QUESTION_TEMPLATES[rng.integers(len(_QUESTION_TEMPLATES))]
        n1, n2, n3 = (nouns[i] for i in rng.choice(pool, 3, replace=False))
        v = verbs[rng.integers(len(verbs))]
        return t.format(v=v, n1=n1, n2=n2, n3=n3).capitalize()

    faqs = []
    for i in range(n_faqs):
        alts = [{"question": question()}
                for _ in range(int(rng.integers(0, 3)))]
        faqs.append({
            "question": question(),
            "alternateQuestions": alts,
            "answer": [{"text": f"Answer {i}", "type": "basic",
                        "channel": "default"}],
            "alternateAnswers": [],
            "responseType": "dialog" if rng.random() < 0.25 else "message",
        })
    synonyms = {
        f"{nouns[2 * j]} {nouns[2 * j + 1]}": [vocab[300 + j]]
        for j in range(3)
    }
    return {"faqs": faqs, "synonyms": synonyms}


def write_faq_export(payload: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
