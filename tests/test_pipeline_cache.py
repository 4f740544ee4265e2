"""Cache lifetime of the KG entry points: once a build's terminal
action has run, every cache it made must be released — including the
linked frame ``hierarchy.optimise_graph`` persists — on both linking
branches, so repeated builds in one session do not accumulate
persistent RDDs. ``run_pipeline`` releases through ``KGResult.close()``;
``run_resumable_pipeline`` once its ontology stage has committed."""

from __future__ import annotations

import pytest

from knowledgegraphgenerator_spark.operators.triples import write_triples
from knowledgegraphgenerator_spark.pipeline import run_pipeline
from knowledgegraphgenerator_spark.plans.runner import run_resumable_pipeline
from knowledgegraphgenerator_spark.sources.webpages import synthetic_web_pages


def _private_corpus(spark, tmp_path):
    # read back from a path of its own, so no cache another test left
    # behind can match (and be materialized by) this build's plans
    src = str(tmp_path / "docs")
    synthetic_web_pages(spark, 120, n_partitions=4).select(
        "doc_id", "text", "lang"
    ).write.parquet(src)
    return spark.read.parquet(src)


@pytest.mark.parametrize("linking", ["broadcast", "blocked"])
def test_close_releases_every_persistent_rdd(spark, tmp_path, linking):
    corpus = _private_corpus(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    result = run_pipeline(corpus, linking=linking)
    write_triples(result.triples, str(tmp_path / "out"))
    assert len(jsc.getPersistentRDDs()) > before
    result.close()
    assert len(jsc.getPersistentRDDs()) == before


@pytest.mark.parametrize("linking", ["broadcast", "blocked"])
def test_resumable_pipeline_leaves_no_persistent_rdd(spark, tmp_path,
                                                     linking):
    corpus = _private_corpus(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    trip = run_resumable_pipeline(
        spark, corpus, str(tmp_path / "stages"), linking_strategy=linking
    )
    assert trip.count() > 0
    assert len(jsc.getPersistentRDDs()) == before
