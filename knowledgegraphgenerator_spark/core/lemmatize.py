"""Deterministic rule lemmatizer.

The reference lemmatizes with NLTK's WordNetLemmatizer at default
pos='n' (/root/reference/analyzer/kg_export/language/Lemmatize.py:86-89)
— i.e. noun inflection only — plus a tiny domain override map
(Lemmatize.py:84). NLTK/WordNet are not available in this environment,
so this module is a deterministic morphy-style rule stand-in: exception
table + ordered suffix-substitution rules (the public WordNet morphy
rules for nouns), no dictionary gate. The sequential oracle in
tests/ref_impl uses this same function, so golden fixtures and the Spark
pipeline share one lemmatization spec.

``verb_lemma`` covers the spaCy ``token.lemma_`` use on verb spans
(/root/reference/strategy/phrase_finder.py:72) with standard -ing/-ed/-s
stripping incl. consonant-doubling and silent-e restoration.
"""

from __future__ import annotations

# Reference domain overrides (Lemmatize.py:84) + common irregular nouns.
NOUN_EXCEPTIONS: dict[str, str] = {
    "banking": "bank", "us": "us", "timing": "time", "timings": "time",
    "monies": "money", "men": "man", "women": "woman", "children": "child",
    "feet": "foot", "teeth": "tooth", "geese": "goose", "mice": "mouse",
    "people": "people", "data": "data", "criteria": "criterion",
    "indices": "index", "statuses": "status", "fees": "fee",
}

# Ordered (suffix, replacement) rules — WordNet noun detachment rules,
# longest suffix tried first.
_NOUN_RULES: tuple[tuple[str, str], ...] = (
    ("ches", "ch"), ("shes", "sh"), ("xes", "x"), ("zes", "z"),
    ("ses", "s"), ("ives", "ife"), ("ves", "f"), ("ies", "y"),
    ("s", ""),
)

_KEEP_S_ENDINGS = ("ss", "us", "is", "'s")

_VERB_EXCEPTIONS: dict[str, str] = {
    "is": "be", "are": "be", "was": "be", "were": "be", "been": "be",
    "am": "be", "has": "have", "had": "have", "does": "do", "did": "do",
    "goes": "go", "went": "go", "gone": "go", "made": "make",
    "paid": "pay", "sent": "send", "got": "get", "gave": "give",
    "took": "take", "said": "say", "told": "tell", "found": "find",
    "kept": "keep", "left": "leave", "lost": "lose", "held": "hold",
    "met": "meet", "ran": "run", "sold": "sell", "bought": "buy",
    "brought": "bring", "thought": "think", "came": "come",
    "knew": "know", "saw": "see", "seen": "see", "done": "do",
}

_VOWELS = set("aeiou")


def noun_lemma(word: str) -> str:
    """Morphy-style noun lemma; returns the word itself when no rule fits."""
    if not word:
        return word
    w = word.lower()
    if w in NOUN_EXCEPTIONS:
        return NOUN_EXCEPTIONS[w]
    if len(w) <= 3 or not w.endswith("s") or w.endswith(_KEEP_S_ENDINGS):
        return w
    for suffix, repl in _NOUN_RULES:
        if w.endswith(suffix):
            stem = w[: -len(suffix)] + repl
            if len(stem) >= 2:
                return stem
    return w


def verb_lemma(word: str) -> str:
    """Base form of a verb token (-ing / -ed / -s stripping)."""
    if not word:
        return word
    w = word.lower()
    if w in _VERB_EXCEPTIONS:
        return _VERB_EXCEPTIONS[w]
    for suffix in ("ing", "ed"):
        if w.endswith(suffix) and len(w) > len(suffix) + 2:
            stem = w[: -len(suffix)]
            # consonant doubling: running -> run (but not -ll/-ss stems)
            if (
                len(stem) >= 3
                and stem[-1] == stem[-2]
                and stem[-1] not in _VOWELS
                and stem[-1] not in "ls"
            ):
                return stem[:-1]
            # silent-e restoration: making -> make, used -> use
            if stem[-1] not in _VOWELS and len(stem) >= 2 and stem[-2] in _VOWELS:
                restored = stem + "e"
                if suffix == "ed" and w.endswith("eed"):
                    return w[:-1]
                if restored in _COMMON_E_VERBS:
                    return restored
            return stem
    if w.endswith("ies") and len(w) > 4:
        return w[:-3] + "y"
    if w.endswith("es") and len(w) > 3 and w[-3] in "osxz":
        return w[:-2]
    if w.endswith("s") and not w.endswith("ss") and len(w) > 3:
        return w[:-1]
    return w


# verbs whose base form ends in silent e (for -ing/-ed restoration)
_COMMON_E_VERBS = frozenset({
    "make", "take", "give", "use", "move", "manage", "change", "charge",
    "close", "receive", "provide", "require", "include", "create",
    "update", "activate", "validate", "generate", "save", "share",
    "place", "trace", "reduce", "produce", "issue", "live", "believe",
    "arrange", "combine", "compare", "complete", "configure", "decide",
    "declare", "define", "delete", "describe", "determine", "enable",
    "disable", "enforce", "ensure", "examine", "exchange", "execute",
    "expire", "file", "finalize", "fine", "force", "improve", "increase",
    "decrease", "invite", "invoice", "involve", "like", "line", "note",
    "notice", "operate", "page", "phone", "prepare", "price", "promise",
    "purchase", "raise", "rate", "release", "remove", "rename", "replace",
    "reserve", "resolve", "restore", "retrieve", "revoke", "rotate",
    "schedule", "serve", "settle", "solve", "store", "style", "time",
    "trade", "transfer", "type", "value", "write", "wire", "escalate",
})
