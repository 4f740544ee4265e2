"""End-to-end KG construction pipeline (SURVEY.md §3.1 re-expressed).

corpus(url/doc_id, html?, text, lang)
  → normalize (Arrow UDF)                       [no shuffle]
  → extract features (fused chunker pass)       [no shuffle]
  → term dictionary (agg + threshold + dedup)   [1 shuffle + tiny join]
  → broadcast dictionary → link terms           [no shuffle]
  → optimise hierarchy (G1, G2)                 [tiny-path-set shuffles]
  → triples                                     [explode + distinct]

Reference lifecycle: /root/reference/KnowledgeGraphGenerator.py:31-64.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
from knowledgegraphgenerator_spark.functions.udfs import (
    extract_text_udf,
    normalize_text_udf,
)
from knowledgegraphgenerator_spark.operators import hierarchy, phrases, triples
from knowledgegraphgenerator_spark.operators import linking as linking_ops


@dataclass
class KGResult:
    ontology: DataFrame
    triples: DataFrame
    # entries per dictionary section: exact on the broadcast branch,
    # counts over the truncated limit+1 probe on auto -> blocked (each
    # <= the true size), {} on explicit 'blocked' (no job counts them)
    dictionary_sizes: dict[str, int] = field(default_factory=dict)
    _cleanup: list = field(default_factory=list, repr=False)

    def close(self) -> None:
        """Release caches/broadcasts the pipeline holds for its result
        DataFrames (ADVICE r3 #2). Call after the terminal action; the
        DataFrames stay valid (unpersist only drops the cache)."""
        for fn in self._cleanup:
            fn()
        self._cleanup.clear()


def normalize_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    html_col: str | None = None,
) -> DataFrame:
    """-> (doc_id, question, lang, norm_text). When ``html_col`` is given
    and ``text_col`` is absent/null, text is extracted from HTML first
    (byte-identical extractor, core/html.py)."""
    cols = [F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")]
    if html_col is not None and text_col not in df.columns:
        text = extract_text_udf(F.col(html_col))
    elif html_col is not None:
        text = F.coalesce(
            F.col(text_col), extract_text_udf(F.col(html_col))
        )
    else:
        text = F.col(text_col)
    out = df.select(*cols, text.alias("question"))
    return out.withColumn(
        "norm_text", normalize_text_udf(F.col("question"), F.col("lang"))
    )


def run_faq_pipeline(
    spark,
    file_path: str,
    request_type: str = "csv",
    lang: str = "en",
    synonyms_csv_path: str | None = None,
    output_json_path: str | None = None,
):
    """Reference CLI lifecycle (KnowledgeGraphGenerator.py:31-64):
    parse → extract/link (ALL questions) → optimise (primaries only —
    the reference's path maps iterate altq_map keys, Optmiser.py:25-26)
    → export JSON + triples. Returns (export_df, KGResult)."""
    from knowledgegraphgenerator_spark.operators.export import (
        build_export,
        write_export_json,
    )
    from knowledgegraphgenerator_spark.sources.faq import get_input_parser

    parser = get_input_parser(request_type)
    if request_type == "json_export":
        parsed = parser(file_path, lang, synonyms_csv_path)
    else:
        parsed = parser(file_path, lang)
    faq = parsed.to_df(spark)

    corpus = faq.select(
        F.col("ques_id").alias("doc_id"),
        F.col("question").alias("text"),
        F.lit(lang).alias("lang"),
    )
    primaries = faq.where("is_primary").select(
        F.col("ques_id").alias("doc_id")
    )
    syn_df = None
    if parsed.synonyms:
        syn_df = spark.createDataFrame(
            [(k, v) for k, v in parsed.synonyms.items()],
            "term string, synonyms array<string>",
        )
    altq = faq.where("NOT is_primary").select(
        F.col("question").alias("alt_question"), "primary_id"
    )
    alt_with_primary = altq.join(
        faq.where("is_primary").select(
            F.col("ques_id").alias("primary_id"),
            F.col("question").alias("primary_question"),
        ),
        "primary_id",
    ).select("alt_question", "primary_question")

    result = run_pipeline(
        corpus,
        lang=lang,
        stop_words=sorted(parsed.stop_words),
        primaries=primaries,
        synonyms=syn_df,
        altq=alt_with_primary,
    )
    export = build_export(result.ontology, faq)
    if output_json_path:
        write_export_json(export, parsed.synonyms, output_json_path)
    return export, result


def run_pipeline(
    corpus: DataFrame,
    lang: str = "en",
    stop_words: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    html_col: str | None = None,
    primaries: DataFrame | None = None,
    synonyms: DataFrame | None = None,
    altq: DataFrame | None = None,
    linking: str = "auto",
    broadcast_term_limit: int = 2_000_000,
    blocked_prune: bool = True,
) -> KGResult:
    """``linking``: 'broadcast' collects the ranked dictionary to the
    driver and broadcasts it (zero linking shuffles — right while the
    dictionary is vocabulary-bounded); 'blocked' keeps the dictionary on
    the cluster and links via the token-block equi-join
    (operators/linking.py:link_terms_blocked — right when the dictionary
    outgrows broadcast); 'auto' counts the dictionary once and picks
    (<= broadcast_term_limit entries -> broadcast). The choice is
    operators/linking.py:choose_linking."""
    stops = resolve_stop_words(lang, stop_words)
    # Small-file inputs (one parquet footer) arrive as 1 split — fan out
    # to the cluster's parallelism or every Arrow stage runs on one core.
    # Real corpora arrive in thousands of splits and skip this branch.
    target = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < min(target, 8):
        corpus = corpus.repartition(target)
    normalized = normalize_corpus(
        corpus, id_col, text_col, lang_col, html_col
    )
    # The corpus is read twice (dictionary pass, then match pass) — cache
    # the narrow normalized projection. The feature arrays are consumed
    # by FOUR downstream actions (3 ranked collects + the dedup join), so
    # cache them too or the chunker pass re-runs per action.
    cleanup: list = []
    normalized = normalized.persist()
    cleanup.append(normalized.unpersist)
    features = phrases.extract_doc_features(
        normalized, stops, id_col="doc_id", text_col="norm_text"
    ).persist()
    # ONE explode + ONE shuffle builds all three dictionary sections;
    # the result is vocabulary-bounded, so persist it and let the
    # sections, the A3 self-join, and the probe/union all read the
    # cache instead of re-deriving from the corpus (unified_term_counts
    # docstring explains why unmaterialized sections re-explode).
    counted = phrases.unified_term_counts(features).persist()
    frames = phrases.sections_from_counted(counted)
    frames["phrases"] = phrases.dedup_equal_count_phrases(frames["phrases"])

    dictionary, dictionary_sizes = linking_ops.choose_linking(
        frames, stops, linking, broadcast_term_limit
    )
    if dictionary is None:
        # blocked linking reads features/counted through the frames —
        # their caches are released by KGResult.close(), not here
        cleanup += [features.unpersist, counted.unpersist]
        linked = linking_ops.link_terms_blocked(
            normalized, frames, stops,
            prune_doc_keys=blocked_prune, cleanup=cleanup,
        )
    else:
        features.unpersist()
        counted.unpersist()
        linked = linking_ops.link_terms(normalized, dictionary)
    # optimise_graph persists the linked frame it reads twice; the
    # ontology is persisted because triples reads it from three plan
    # branches. KGResult.close() releases both.
    onto = hierarchy.optimise_graph(linked, primaries).persist()
    cleanup += [linked.unpersist, onto.unpersist]
    trip = triples.build_triples(onto, synonyms=synonyms, altq=altq)
    return KGResult(
        ontology=onto,
        triples=trip,
        dictionary_sizes=dictionary_sizes,
        _cleanup=cleanup,
    )
