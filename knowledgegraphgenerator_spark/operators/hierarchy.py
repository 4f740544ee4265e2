"""Graph optimiser: G1 terms→tags demotion + G2 sparse-node collapse.

DataFrame re-expression of /root/reference/graph_optmiser/Optmiser.py:

  * path = reverse(terms) — root→leaf (Optmiser.py:27); keyed by a
    delimiter-joined string (terms are ``\\w``+space, so ``\\x01`` is safe)
    because string equi-join keys hash/broadcast cheaper than array keys;
  * only PRIMARY questions participate in the path maps — the reference
    iterates ``alt_ques_map`` keys (Optmiser.py:25-26), and alternates are
    never optimised;
  * G1 (Optmiser.py:30-42): explode each distinct path's proper prefixes
    of length 2..len-1 (the root-only prefix never demotes and the walk
    starts at path[:-1]), left_anti-join against the populated-path set,
    collect each path's demoted terms (the last element of every missing
    prefix), then rewrite terms/tags with array ops — demoted terms keep
    their terms-list order when appended to tags (convert_terms_to_tags
    appends in terms order, Optmiser.py:8-19);
  * G2 (Optmiser.py:44-54): on RE-computed paths (Optmiser.py:56-62),
    paths of length node_level+1 with fewer than max_ques questions keep
    only the first node_level path elements as terms (reversed back to
    leaf→root), the rest demoted to tags in path order.

Shuffle budget: one distinct over paths + one aggregation of missing
prefixes + joins back keyed on path_key. Join strategy is LEFT TO AQE:
for FAQ corpora the path set is tiny (broadcast), but for long documents
it approaches |docs| and must shuffle — forcing broadcast was a measured
10x regression at 400k distinct paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphgenerator_spark.config import (
    OPTIMISER_MAX_QUES,
    OPTIMISER_NODE_LEVEL,
)

_SEP = ""


def _with_path(df: DataFrame) -> DataFrame:
    return df.withColumn("path", F.reverse("terms")).withColumn(
        "path_key", F.concat_ws(_SEP, F.reverse("terms"))
    )


def demote_empty_ancestors(
    onto: DataFrame, primaries: DataFrame | None = None
) -> DataFrame:
    """G1. ``onto``: (doc_id, question, terms, tags); ``primaries``:
    (doc_id) rows participating in path maps (default: all)."""
    w = _with_path(onto)
    scoped = w if primaries is None else w.join(primaries, "doc_id", "semi")
    paths = scoped.select("path_key", "path").distinct()

    prefixes = (
        paths.filter(F.size("path") >= 3)
        .select(
            "path_key",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(path) - 1),"
                    " i -> slice(path, 1, i))"
                )
            ).alias("prefix"),
        )
        .withColumn("prefix_key", F.concat_ws(_SEP, "prefix"))
    )
    # join strategy left to AQE: the distinct-path set is tiny for
    # FAQ-like corpora but approaches |docs| for long multi-topic
    # documents — forcing broadcast here was a measured 10x regression
    # on 400k-unique-path corpora.
    missing = prefixes.join(
        paths.select(F.col("path_key").alias("prefix_key")),
        "prefix_key",
        "left_anti",
    )
    demoted = missing.groupBy("path_key").agg(
        F.collect_set(F.element_at("prefix", -1)).alias("demoted")
    )

    applied = (
        scoped.join(demoted, "path_key", "left")
        .withColumn(
            "new_terms",
            F.when(
                F.col("demoted").isNull(), F.col("terms")
            ).otherwise(
                F.expr(
                    "filter(terms, t -> NOT array_contains(demoted, t))"
                )
            ),
        )
        .withColumn(
            "new_tags",
            F.when(F.col("demoted").isNull(), F.col("tags")).otherwise(
                F.concat(
                    "tags",
                    F.expr("filter(terms, t -> array_contains(demoted, t))"),
                )
            ),
        )
        .select(
            "doc_id",
            "question",
            F.col("new_terms").alias("terms"),
            F.col("new_tags").alias("tags"),
        )
    )
    if primaries is None:
        return applied
    rest = w.join(primaries, "doc_id", "anti").select(
        "doc_id", "question", "terms", "tags"
    )
    return applied.unionByName(rest)


def collapse_sparse_nodes(
    onto: DataFrame,
    primaries: DataFrame | None = None,
    node_level: int = OPTIMISER_NODE_LEVEL,
    max_ques: int = OPTIMISER_MAX_QUES,
) -> DataFrame:
    """G2 on recomputed paths (Optmiser.py:44-54)."""
    w = _with_path(onto)
    scoped = w if primaries is None else w.join(primaries, "doc_id", "semi")
    counts = scoped.groupBy("path_key").agg(
        F.count(F.lit(1)).alias("n_ques")
    )
    applied = (
        scoped.join(counts, "path_key", "left")
        .withColumn(
            "collapse",
            (F.size("path") == F.lit(node_level + 1))
            & (F.col("n_ques") < F.lit(max_ques)),
        )
        .withColumn(
            "new_terms",
            F.when(
                F.col("collapse"),
                F.reverse(F.slice("path", 1, node_level)),
            ).otherwise(F.col("terms")),
        )
        .withColumn(
            "new_tags",
            F.when(
                F.col("collapse"),
                F.concat(
                    "tags",
                    F.expr(
                        f"slice(path, {node_level + 1},"
                        f" greatest(size(path) - {node_level}, 0))"
                    ),
                ),
            ).otherwise(F.col("tags")),
        )
        .select(
            "doc_id",
            "question",
            F.col("new_terms").alias("terms"),
            F.col("new_tags").alias("tags"),
        )
    )
    if primaries is None:
        return applied
    rest = w.join(primaries, "doc_id", "anti").select(
        "doc_id", "question", "terms", "tags"
    )
    return applied.unionByName(rest)


def optimise_graph(
    onto: DataFrame,
    primaries: DataFrame | None = None,
    node_level: int = OPTIMISER_NODE_LEVEL,
    max_ques: int = OPTIMISER_MAX_QUES,
) -> DataFrame:
    """G1 then G2 in ONE corpus pass (G2 sees G1's rewritten paths —
    Optmiser.py:56-62 — but both rewrites are pure functions of the OLD
    path, so the whole decision table is computed on the distinct-path
    aggregate and joined back once):

      1. path_stats: groupBy(path_key) over the corpus — the only
         corpus-wide aggregation (counts feed G2; first(path) is exact,
         path is functionally dependent on path_key);
      2. G1 demotion per distinct path (prefix explode + anti-join on
         the small stats table);
      3. post-G1 path per distinct path = filter(path, ¬demoted)
         (reverse∘filter commutes with filter∘reverse);
      4. G2 counts = sum of n_ques grouped by post-G1 path — the
         sequential optimiser's "recomputed path map" without touching
         the corpus again;
      5. one join back applying demote+collapse in a single projection
         (tag append order preserved: demoted in terms order, then
         collapsed remainder in path order — Optmiser.py:8-19,44-54).

    Shuffle budget: 1 corpus aggregation + 1 corpus join-back (strategy
    left to AQE) vs the naive two passes of each.

    ``onto`` is read twice, so it is persisted (in place); the caller
    releases it with ``onto.unpersist()`` after its terminal action.
    """
    onto = onto.persist()
    w = _with_path(onto)
    scoped = w if primaries is None else w.join(primaries, "doc_id", "semi")

    path_stats = scoped.groupBy("path_key").agg(
        F.count(F.lit(1)).alias("n_ques"), F.first("path").alias("path")
    )
    prefixes = (
        path_stats.filter(F.size("path") >= 3)
        .select(
            "path_key",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(path) - 1),"
                    " i -> slice(path, 1, i))"
                )
            ).alias("prefix"),
        )
        .withColumn("prefix_key", F.concat_ws(_SEP, "prefix"))
    )
    missing = prefixes.join(
        path_stats.select(F.col("path_key").alias("prefix_key")),
        "prefix_key",
        "left_anti",
    )
    demoted = missing.groupBy("path_key").agg(
        F.collect_set(F.element_at("prefix", -1)).alias("demoted")
    )
    stats = (
        path_stats.join(demoted, "path_key", "left")
        .withColumn(
            "new_path",
            F.when(F.col("demoted").isNull(), F.col("path")).otherwise(
                F.expr("filter(path, t -> NOT array_contains(demoted, t))")
            ),
        )
        .withColumn("new_path_key", F.concat_ws(_SEP, "new_path"))
    )
    g2_counts = stats.groupBy("new_path_key").agg(
        F.sum("n_ques").alias("total_ques")
    )
    decisions = stats.join(g2_counts, "new_path_key").select(
        "path_key",
        "demoted",
        "new_path",
        (
            (F.size("new_path") == F.lit(node_level + 1))
            & (F.col("total_ques") < F.lit(max_ques))
        ).alias("collapse"),
    )

    applied = (
        scoped.join(decisions, "path_key")
        .withColumn(
            "terms1",
            F.when(F.col("demoted").isNull(), F.col("terms")).otherwise(
                F.expr("filter(terms, t -> NOT array_contains(demoted, t))")
            ),
        )
        .withColumn(
            "tags1",
            F.when(F.col("demoted").isNull(), F.col("tags")).otherwise(
                F.concat(
                    "tags",
                    F.expr("filter(terms, t -> array_contains(demoted, t))"),
                )
            ),
        )
        .withColumn(
            "final_terms",
            F.when(
                F.col("collapse"),
                F.reverse(F.slice("new_path", 1, node_level)),
            ).otherwise(F.col("terms1")),
        )
        .withColumn(
            "final_tags",
            F.when(
                F.col("collapse"),
                F.concat(
                    "tags1",
                    F.expr(
                        f"slice(new_path, {node_level + 1},"
                        f" greatest(size(new_path) - {node_level}, 0))"
                    ),
                ),
            ).otherwise(F.col("tags1")),
        )
        .select(
            "doc_id",
            "question",
            F.col("final_terms").alias("terms"),
            F.col("final_tags").alias("tags"),
        )
    )
    if primaries is None:
        return applied
    rest = w.join(primaries, "doc_id", "anti").select(
        "doc_id", "question", "terms", "tags"
    )
    return applied.unionByName(rest)


def optimise_graph_two_pass(
    onto: DataFrame, primaries: DataFrame | None = None
) -> DataFrame:
    """Reference-shaped two-pass formulation (kept as the readable spec
    and as the differential-test twin of the fused optimise_graph)."""
    onto = onto.persist()
    g1 = demote_empty_ancestors(onto, primaries).persist()
    return collapse_sparse_nodes(g1, primaries)
