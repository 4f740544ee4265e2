"""Vectorized Arrow UDFs (the engine's entire Python-on-executor surface).

Everything else in the pipeline is JVM-side DataFrame ops; these are the
operators Spark genuinely cannot express (SURVEY.md §2.3):

  * ``normalize_text_udf`` — P1-P3 chain (lowercase → contraction
    expansion → ``\\W+``-to-space). Kept in Python ``re`` because Java regex
    ``\\W`` is ASCII-only while the reference's Python3 ``\\W`` is
    Unicode-aware (/root/reference/StringProcessor.py:142-155; SURVEY.md
    §7.4 item 1). Fully pandas-vectorized: the conditional second
    contraction pass (StringProcessor.py:146-148) is a no-op when no
    apostrophe survives — every contraction key contains one — so an
    unconditional double pass is byte-identical and branch-free.
  * ``extract_text_udf`` — HTML boilerplate strip (core/html.py spec).
  * ``lemmatize_sentence_udf`` — noun-lemma chain used for match docs
    (/root/reference/strategy/NGramStrategy.py:65).

Scale notes: scalar pandas UDFs ride Arrow batches
(spark.sql.execution.arrow.maxRecordsPerBatch); no per-executor model state
is needed (pure functions), so plain ``pandas_udf`` beats mapInPandas here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from knowledgegraphgenerator_spark.core import html as html_mod
from knowledgegraphgenerator_spark.core import textnorm
from knowledgegraphgenerator_spark.core.lemmatize import noun_lemma


def _normalize_series(text: pd.Series, lang: pd.Series) -> pd.Series:
    out = text.fillna("").str.lower()
    en = lang.fillna("") == "en"
    if en.any():
        repl = lambda m: textnorm.CONTRACTIONS[m.group(0).lower()]  # noqa: E731
        e = out[en]
        # every contraction key contains an apostrophe, so the expansion
        # pass is a provable no-op on apostrophe-free strings — skip the
        # expensive 100-way alternation for those rows (most of a web
        # corpus), and run the second pass only where one survives
        has_apo = e.str.contains("'", regex=False)
        if has_apo.any():
            x = e[has_apo].str.replace(
                textnorm._CONTRACTIONS_RE, repl, regex=True
            )
            still = x.str.contains("'", regex=False)
            if still.any():
                x[still] = x[still].str.replace(
                    textnorm._CONTRACTIONS_RE, repl, regex=True
                )
            e = e.copy()
            e[has_apo] = x
        e = e.str.replace(textnorm._NON_WORD_RE, " ", regex=True)
        out = out.copy()
        out[en] = e
    return out


@pandas_udf(StringType())
def normalize_text_udf(text: pd.Series, lang: pd.Series) -> pd.Series:
    return _normalize_series(text, lang)


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(html_mod.extract_text)


@pandas_udf(StringType())
def lemmatize_sentence_udf(text: pd.Series) -> pd.Series:
    return text.fillna("").map(
        lambda s: " ".join(noun_lemma(t) for t in textnorm.tokenize(s))
    )


@pandas_udf(ArrayType(StringType()))
def match_tokens_udf(text: pd.Series) -> pd.Series:
    """Match-doc token stream: tokenize (whitespace + Treebank splits)
    then per-token noun lemma — the token form of lemmatize_sentence_udf,
    consumed by the token-block linking fallback (operators/linking.py)."""
    return text.fillna("").map(
        lambda s: [noun_lemma(t) for t in textnorm.tokenize(s)]
    )
