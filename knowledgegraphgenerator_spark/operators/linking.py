"""Mention detection / term assignment (J1 in SURVEY.md §2.5).

Semantically a broadcast theta-join (substring containment with priority
masking) between documents and the ranked term dictionary — not
expressible as an equi-join, so it runs as one fused Arrow pass:

  * the dictionary (corpus-derived, vocabulary-bounded) is broadcast once
    via ``SparkContext.broadcast``; each executor materializes a
    ``RankedDictionary`` (token inverted index + compiled-regex cache)
    lazily on first batch and reuses it for every subsequent batch;
  * per document the matcher runs the reference's greedy masked scan
    (core/matching.py) but only over terms whose lead token occurs in the
    document — a superset of possible ``\\b``-matches, so masking
    semantics are exactly preserved while the scan drops from O(|dict|)
    to O(doc tokens) per document;
  * ordering (O1) and the substring filter are applied in the same pass,
    so the stage output is final (doc_id, question, terms, tags) — no
    further shuffle.

Scale fallback (``link_terms_blocked``): when the dictionary outgrows
broadcast (multi-domain 100 TB crawls can exceed the Heaps-law estimate in
SCALE.md), the dictionary NEVER leaves the cluster: explode each doc's
lemma tokens and adjacent token pairs, equi-join against the dictionary
keyed by lead token (single-token terms) / lead pair (multi-token terms) —
a superset of every possible ``\\b``-match — collect the per-doc candidate
list (bounded by doc length, not dictionary size), and replay the greedy
masked scan per doc inside one Arrow pass
(core/matching.py:assign_terms_from_candidates). Differentially tested
equal to the broadcast matcher (tests/test_linking_blocked.py) and gated
by the same kg_triples DuckDB oracle (queries.py:kg_triples_blocked).

Shuffle budget of the fallback: 1 token-key equi-join (shuffle hash, AQE
skew-join eligible) + 1 groupBy(doc_id) collect + 1 doc join-back — vs
zero shuffles for the broadcast path. ``choose_linking`` is the one
place the matcher is chosen, for every caller (batch pipeline, staged
runner, stream, CLI): 'auto' picks broadcast up to
``broadcast_term_limit`` dictionary entries, blocked above.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.core.matching import (
    RankedDictionary,
    assign_terms,
)
from knowledgegraphgenerator_spark.operators import phrases

STRATEGIES = ("auto", "broadcast", "blocked")

_ONTOLOGY_SCHEMA = (
    "doc_id long, question string, terms array<string>, tags array<string>"
)


def choose_linking(
    frames: dict[str, DataFrame],
    stop_tokens: frozenset[str],
    strategy: str = "auto",
    broadcast_term_limit: int = 2_000_000,
) -> tuple[RankedDictionary | None, dict[str, int]]:
    """Broadcast-vs-blocked decision over the dictionary sections
    ``frames`` (term, cnt, first_seen) -> ``(dictionary, sizes)``.

    ``dictionary`` is the ranked dictionary for ``link_terms``, or
    ``None`` when ``link_terms_blocked`` must run. 'broadcast' collects
    the whole dictionary; 'blocked' runs no job; 'auto' collects at most
    ``broadcast_term_limit + 1`` rows in ONE job — if everything fit,
    these ARE the dictionary rows (choosing costs no extra job); if not,
    only limit+1 bounded rows reached the driver.

    ``sizes`` (entries per section): exact when a dictionary is
    returned; on auto -> blocked, counts over the truncated probe, so
    each is <= the true section size; ``{}`` on explicit 'blocked'.
    """
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown linking strategy: {strategy!r}")
    if strategy == "blocked":
        return None, {}
    union = phrases.union_dictionary_frames(frames)
    if strategy == "broadcast":
        rows = union.collect()
    else:
        rows = union.limit(broadcast_term_limit + 1).collect()
        if len(rows) > broadcast_term_limit:
            return None, dict(Counter(r["kind"] for r in rows))
    dictionary = phrases.ranked_dictionary_from_rows(rows, stop_tokens)
    return dictionary, {
        "phrases": len(dictionary.phrases),
        "unigrams": len(dictionary.unigrams),
        "verbs": len(dictionary.verbs),
    }


def link_terms(
    df: DataFrame,
    dictionary: RankedDictionary,
    id_col: str = "doc_id",
    raw_col: str = "question",
    norm_col: str = "norm_text",
) -> DataFrame:
    """(doc_id, question, norm_text) -> (doc_id, question, terms, tags).

    Reference: GramBasedGenerator.generate_graph per-question loop,
    /root/reference/strategy/NGramStrategy.py:60-108.
    """
    spark = df.sparkSession
    payload = (
        dictionary.phrases,
        dictionary.unigrams,
        dictionary.verbs,
        dictionary.stop_tokens,
    )
    bc = spark.sparkContext.broadcast(payload)

    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(raw_col).alias("question"),
        F.col(norm_col).alias("norm"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        phrases, unigrams, verbs, stop = bc.value
        matcher = RankedDictionary(phrases, unigrams, verbs, stop)
        for pdf in batches:
            terms_col: list[list[str]] = []
            tags_col: list[list[str]] = []
            for raw, norm in zip(pdf["question"], pdf["norm"]):
                terms, tags = assign_terms(norm or "", raw or "", matcher)
                terms_col.append(terms)
                tags_col.append(tags)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "question": pdf["question"],
                    "terms": terms_col,
                    "tags": tags_col,
                }
            )

    return src.mapInPandas(gen, schema=_ONTOLOGY_SCHEMA)


_PAIR_SEP = "\x01"  # tokens are \w-only, so \x01 cannot collide


def _dictionary_df(frames: dict[str, DataFrame]) -> DataFrame:
    """frames (term, cnt, first_seen) per section -> one blocked-join
    dictionary keyed by lead token / lead pair. Verbs stay UNfiltered:
    cnt==1 verbs never match (break-at-1) but overwrite the merged sort
    key (NGramStrategy.py:52-55), so they must reach the replay."""
    parts = []
    for sec, name in ((0, "phrases"), (1, "unigrams"), (2, "verbs")):
        parts.append(
            frames[name].select(
                F.lit(sec).alias("sec"),
                "term",
                F.col("cnt").cast("long").alias("cnt"),
                F.col("first_seen.doc_id").alias("fs_doc"),
                F.col("first_seen.pos").alias("fs_pos"),
            )
        )
    unioned = parts[0].unionByName(parts[1]).unionByName(parts[2])
    toks = F.split("term", " ")
    return unioned.withColumn(
        "block_key",
        F.when(
            F.size(toks) >= 2,
            F.concat(toks[0], F.lit(_PAIR_SEP), toks[1]),
        ).otherwise(toks[0]),
    )


def doc_block_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, ltoks) -> exploded (doc_id, block_key): every lemma token
    plus every adjacent token pair, distinct per doc. This is the doc
    side of the blocked equi-join; exposed so the shuffle-diet probe
    (BENCH/blocked_prune_probe.py) measures exactly the operator's keys."""
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.concat(
                    "ltoks",
                    F.expr(
                        "transform(slice(ltoks, 1,"
                        " greatest(size(ltoks) - 1, 0)),"
                        f" (x, i) -> concat(x, '{_PAIR_SEP}', ltoks[i + 1]))"
                    ),
                )
            )
        ).alias("block_key"),
    )


def link_terms_blocked(
    df: DataFrame,
    frames: dict[str, DataFrame],
    stop_tokens: frozenset[str],
    id_col: str = "doc_id",
    raw_col: str = "question",
    norm_col: str = "norm_text",
    prune_doc_keys: bool = True,
    cleanup: list | None = None,
) -> DataFrame:
    """Token-block + verify linking: no driver collect, no Python
    broadcast of the dictionary (VERDICT r1 'Next round' #1).

    (doc_id, question, norm_text) -> (doc_id, question, terms, tags),
    identical to link_terms.

    ``prune_doc_keys`` (shuffle diet, VERDICT r2 'Next round' #4): most
    exploded doc keys (every token + adjacent pair of every doc) miss the
    dictionary — at 400k docs the equi-join shuffled 34.8M doc keys for
    11.9M candidates. Before the shuffle, semi-join the doc keys against
    a broadcast of the dictionary's DISTINCT block-key xxhash64 set:
    8 bytes/key, so it broadcasts far past the point where the full
    dictionary rows (term + counts + first-seen) stopped fitting. A hash
    collision can only KEEP a miss-key (the real string equi-join drops
    it next), never drop a true match, so output is identical by
    construction — and differentially tested + driver-gated. Disable only
    when even the key-hash set outgrows broadcast (≳100M distinct lead
    keys — Heaps-law ≫ the 2M-term auto threshold); the join then relies
    on AQE skew handling alone, as in round 2.

    ``cleanup`` (ADVICE r3 #2): the operator persists the tokenized docs
    and broadcasts the stop set; both outlive the returned (lazy)
    DataFrame, so the operator cannot release them itself. Pass a list
    and the operator appends zero-arg release callables — the caller
    invokes them AFTER its terminal action (the streaming wrapper does so
    per micro-batch; ``run_pipeline`` exposes them via
    ``KGResult.close()``). Without a list the resources live until
    session teardown, which is what a long-lived stream must avoid.
    """
    from knowledgegraphgenerator_spark.functions.udfs import match_tokens_udf

    spark = df.sparkSession
    bc_stop = spark.sparkContext.broadcast(stop_tokens)

    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(raw_col).alias("question"),
        match_tokens_udf(F.col(norm_col)).alias("ltoks"),
    ).persist()
    if cleanup is not None:
        cleanup.append(lambda: docs.unpersist())
        cleanup.append(lambda: bc_stop.destroy())

    # per-doc DISTINCT block keys: every lemma token + every adjacent pair
    doc_keys = doc_block_keys(docs)

    dict_df = _dictionary_df(frames)
    if prune_doc_keys:
        key_hashes = dict_df.select(
            F.xxhash64("block_key").alias("_kh")
        ).distinct()
        doc_keys = (
            doc_keys.withColumn("_kh", F.xxhash64("block_key"))
            .join(F.broadcast(key_hashes), "_kh", "left_semi")
            .drop("_kh")
        )
    # shuffle hash equi-join on the block key; the dictionary side never
    # leaves the cluster. AQE skew-join handles hot lead tokens.
    cands = doc_keys.join(dict_df, "block_key").select(
        "doc_id", "sec", "term", "cnt", "fs_doc", "fs_pos"
    )
    grouped = cands.groupBy("doc_id").agg(
        F.collect_list(F.struct("sec", "term", "cnt", "fs_doc", "fs_pos"))
        .alias("cands")
    )
    joined = docs.join(grouped, "doc_id", "left")

    from knowledgegraphgenerator_spark.core.matching import (
        assign_terms_from_candidates,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        stop = bc_stop.value
        for pdf in batches:
            terms_col: list[list[str]] = []
            tags_col: list[list[str]] = []
            for ltoks, raw, cands_row in zip(
                pdf["ltoks"], pdf["question"], pdf["cands"]
            ):
                if cands_row is None or len(cands_row) == 0:
                    ranked = []
                else:
                    # section order, then most_common (cnt desc, first-seen)
                    ranked = sorted(
                        (
                            (c["sec"], c["term"], c["cnt"],
                             c["fs_doc"], c["fs_pos"])
                            for c in cands_row
                        ),
                        key=lambda c: (c[0], -c[2], c[3], c[4]),
                    )
                    ranked = [(s, t, c) for s, t, c, _, _ in ranked]
                terms, tags = assign_terms_from_candidates(
                    list(ltoks), raw or "", ranked, stop
                )
                terms_col.append(terms)
                tags_col.append(tags)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "question": pdf["question"],
                    "terms": terms_col,
                    "tags": tags_col,
                }
            )

    return joined.select("doc_id", "question", "ltoks", "cands").mapInPandas(
        gen, schema=_ONTOLOGY_SCHEMA
    )
