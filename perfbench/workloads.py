"""The three benchmark workloads.

Each workload makes one distinct seeded input per build, runs a build
through the library's public entry point (:meth:`build`) or layer by
layer (:meth:`traced_build`), and checks a build's output
(:meth:`check`, which raises :class:`CheckFailed`).

The traced build calls each layer's public function itself, in the
order the entry point calls them, inside one Spark job group per
layer. It materialises each layer's output (``persist`` + ``count``) so
that every layer's jobs run inside its own group. Where the entry point
caches the same frame, the traced build's persist IS that cache (Spark
keys caches by plan); the frames the entry point does not cache are
released again at the end of the build, so the cache residue left after
a traced build equals the entry point's.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import duckdb

import gen
from knowledgegraphgenerator_spark.core.stopwords import resolve_stop_words
from knowledgegraphgenerator_spark.operators import (
    dedup,
    export,
    hierarchy,
    linking,
    phrases,
    triples,
)
from knowledgegraphgenerator_spark.oracles_kg import kg_triples_oracle_sql
from knowledgegraphgenerator_spark.pipeline import (
    normalize_corpus,
    run_faq_pipeline,
    run_pipeline,
)
from knowledgegraphgenerator_spark.sources import faq as faq_src

# run_pipeline's default auto-strategy limit: the traced build mirrors
# the broadcast branch, which every generated dictionary stays inside
BROADCAST_TERM_LIMIT = 2_000_000


class CheckFailed(Exception):
    """A build's output differs from its expected value."""


@dataclass
class Input:
    path: str
    n_docs: int
    kept_ids: frozenset[int] | None = None  # the planted dedup truth


def _read_triples(path: str) -> list[tuple[str, str, str]]:
    return sorted(
        duckdb.sql(
            f"SELECT subj, pred, obj FROM read_parquet('{path}/*/*.parquet')"
        ).fetchall()
    )


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def traced_kg_layers(spark, tracer, corpus, lang="en", stop_words=None,
                     primaries=None, synonyms=None, altq=None):
    """run_pipeline(corpus, lang, stop_words, primaries=..., synonyms=...,
    altq=...) with linking='auto' on its broadcast branch, one layer at
    a time. Returns (ontology, triples, triple count, release): calling
    every function in ``release`` frees what KGResult.close() frees plus
    the triples, which only the trace cached."""
    stops = resolve_stop_words(lang, stop_words)
    with tracer.layer("pipeline.normalize_corpus") as out:
        target = spark.sparkContext.defaultParallelism
        if corpus.rdd.getNumPartitions() < min(target, 8):
            corpus = corpus.repartition(target)
        normalized = normalize_corpus(corpus).persist()
        out["rows"] = normalized.count()
    release = [normalized.unpersist]
    with tracer.layer("phrases.extract_doc_features") as out:
        features = phrases.extract_doc_features(
            normalized, stops, id_col="doc_id", text_col="norm_text"
        ).persist()
        out["rows"] = features.count()
    with tracer.layer("phrases.unified_term_counts") as out:
        counted = phrases.unified_term_counts(features).persist()
        out["rows"] = counted.count()
    with tracer.layer("phrases.dictionary") as out:
        frames = phrases.sections_from_counted(counted)
        frames["phrases"] = phrases.dedup_equal_count_phrases(
            frames["phrases"])
        rows = (
            phrases.union_dictionary_frames(frames)
            .limit(BROADCAST_TERM_LIMIT + 1)
            .collect()
        )
        if len(rows) > BROADCAST_TERM_LIMIT:
            raise RuntimeError("dictionary outgrew the broadcast branch")
        dictionary = phrases.ranked_dictionary_from_rows(rows, stops)
        features.unpersist()
        counted.unpersist()
        out["rows"] = len(rows)
    with tracer.layer("linking.link_terms") as out:
        # optimise_graph persists its input first: this is that cache
        linked = linking.link_terms(
            normalized, dictionary,
            id_col="doc_id", raw_col="question", norm_col="norm_text",
        ).persist()
        out["rows"] = linked.count()
    with tracer.layer("hierarchy.optimise_graph") as out:
        onto = hierarchy.optimise_graph(linked, primaries).persist()
        out["rows"] = onto.count()
    with tracer.layer("triples.build_triples") as out:
        trip = triples.build_triples(
            onto, synonyms=synonyms, altq=altq).persist()
        n_trip = out["rows"] = trip.count()
    return onto, trip, n_trip, release + [onto.unpersist, trip.unpersist]


def _corpus_input(spec: gen.CorpusSpec, seed: int, path: str) -> Input:
    corpus = gen.web_corpus(seed, spec)
    gen.write_corpus(corpus, path, spec.n_files)
    return Input(path, spec.n_docs, corpus.kept_ids)


class Workload:
    """A workload: ``make_input(seed, path) -> Input``, ``build(spark,
    inp, out)``, ``traced_build(spark, tracer, inp, out)`` and
    ``check(inp, out)``. ``build_s`` is a typical timed build wall on a
    4-core host; the runner turns ``--seconds`` into a build count with
    it. ``warmup`` untimed builds run between the cold build and the
    timed ones."""

    name: str
    build_s: float
    warmup = 0

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir


class KgCorpus(Workload):
    """run_pipeline -> write_triples -> KGResult.close() over a web
    corpus; triples must hash-equal the DuckDB full-pipeline oracle."""

    name = "kg_corpus"
    build_s = 7.0
    warmup = 1
    spec = gen.CorpusSpec(n_docs=500, min_tokens=20, max_tokens=40,
                          n_files=8)

    def make_input(self, seed: int, path: str) -> Input:
        return _corpus_input(self.spec, seed, path)

    def build(self, spark, inp: Input, out: str) -> None:
        result = run_pipeline(spark.read.parquet(inp.path))
        triples.write_triples(result.triples, out)
        result.close()

    def traced_build(self, spark, tracer, inp: Input, out: str) -> None:
        _, trip, n_trip, release = traced_kg_layers(
            spark, tracer, spark.read.parquet(inp.path))
        with tracer.layer("triples.write_triples") as o:
            triples.write_triples(trip, out)
            o["rows"] = n_trip
        for fn in release:
            fn()

    def expected_digest(self, inp: Input) -> str:
        """Oracle triples digest, computed once per input content (and
        oracle SQL) and cached on disk by that hash."""
        sql = kg_triples_oracle_sql()
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT doc_id, text, lang FROM "
            f"read_parquet('{inp.path}/*.parquet')"
        )
        key = hashlib.sha256(sql.encode())
        for doc_id, text in con.sql(
                "SELECT doc_id, text FROM documents ORDER BY doc_id"
        ).fetchall():
            key.update(f"{doc_id}\x1f{text}\x1e".encode())
        cached = os.path.join(self.cache_dir, key.hexdigest())
        if os.path.exists(cached):
            with open(cached) as f:
                return f.read()
        digest = _digest(sorted(con.sql(sql).fetchall()))
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(cached + ".tmp", "w") as f:
            f.write(digest)
        os.replace(cached + ".tmp", cached)
        return digest

    def check(self, inp: Input, out: str) -> None:
        if _digest(_read_triples(out)) != self.expected_digest(inp):
            raise CheckFailed("triples differ from the DuckDB oracle")


class DedupCrawl(Workload):
    """crawl_dedup (production defaults) -> parquet write of the kept
    docs; kept ids must equal the planted truth."""

    name = "dedup_crawl"
    build_s = 3.0
    warmup = 2
    spec = gen.CorpusSpec(n_docs=2000, min_tokens=70, max_tokens=90,
                          n_files=8, clone_frac=0.1, near_frac=0.1)

    def make_input(self, seed: int, path: str) -> Input:
        return _corpus_input(self.spec, seed, path)

    def build(self, spark, inp: Input, out: str) -> None:
        kept = dedup.crawl_dedup(
            spark.read.parquet(inp.path), "text", "doc_id")
        kept.write.mode("overwrite").parquet(out)

    def traced_build(self, spark, tracer, inp: Input, out: str) -> None:
        """crawl_dedup's body with its defaults: shingle_n=3, k=16,
        rows_per_band=2, 8/10 threshold, max_bucket=10_000, verify
        'expand', persist=True."""
        k, rows_per_band, num, den = 16, 2, 8, 10
        with tracer.layer("dedup.exact_dedup") as o:
            df = spark.read.parquet(inp.path)
            uniq = dedup.exact_dedup(df, "text", "doc_id").persist()
            o["rows"] = uniq.count()
        with tracer.layer("dedup.token_shingles") as o:
            sh = dedup.token_shingles(uniq, "text", "doc_id", 3).persist()
            o["rows"] = sh.count()
        with tracer.layer("dedup.minhash_wide") as o:
            wide = dedup.minhash_wide(sh, "doc_id", k).persist()
            o["rows"] = wide.count()
        with tracer.layer("dedup.lsh_candidate_pairs_from_wide") as o:
            pairs = dedup.lsh_candidate_pairs_from_wide(
                wide, "doc_id", rows_per_band, k, max_bucket=10_000,
                compat=(num, den),
            ).persist()
            o["rows"] = pairs.count()
        with tracer.layer("dedup.verify_jaccard") as o:
            dups = dedup.verify_jaccard(
                pairs, sh, "doc_id", num, den).persist()
            o["rows"] = dups.count()
        with tracer.layer("dedup.anti_join") as o:
            drop = dups.select(dups["id_b"].alias("doc_id")).distinct()
            kept = uniq.join(drop, "doc_id", "anti").persist()
            n_kept = o["rows"] = kept.count()
        with tracer.layer("dedup.write") as o:
            kept.write.mode("overwrite").parquet(out)
            o["rows"] = n_kept
        for df in (wide, pairs, dups, kept):
            df.unpersist()

    def check(self, inp: Input, out: str) -> None:
        ids = [r[0] for r in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()]
        if len(ids) != len(set(ids)) or set(ids) != inp.kept_ids:
            raise CheckFailed(
                f"kept {len(set(ids))} ids, planted truth keeps "
                f"{len(inp.kept_ids)}")


class FaqBuild(Workload):
    """run_faq_pipeline(json_export, output_json_path) -> write_triples
    -> KGResult.close() over a small FAQ export; triples must equal the
    sequential reference in tests/ref_impl."""

    name = "faq_build"
    build_s = 10.0
    n_faqs = 12

    def make_input(self, seed: int, path: str) -> Input:
        os.makedirs(path, exist_ok=True)
        payload = gen.faq_export(seed, self.n_faqs)
        src = os.path.join(path, "faq_export.json")
        gen.write_faq_export(payload, src)
        n_questions = sum(1 + len(f["alternateQuestions"])
                          for f in payload["faqs"])
        return Input(src, n_questions)

    def build(self, spark, inp: Input, out: str) -> None:
        os.makedirs(out, exist_ok=True)
        _, result = run_faq_pipeline(
            spark, inp.path, "json_export",
            output_json_path=os.path.join(out, "ao_output.json"),
        )
        triples.write_triples(result.triples, os.path.join(out, "triples"))
        result.close()

    def traced_build(self, spark, tracer, inp: Input, out: str) -> None:
        """run_faq_pipeline's body for json_export, lang 'en'."""
        from pyspark.sql import functions as F

        os.makedirs(out, exist_ok=True)
        with tracer.layer("faq.parse_json_export") as o:
            parsed = faq_src.parse_json_export(inp.path, "en", None)
            faq = parsed.to_df(spark)
            o["rows"] = len(parsed.rows)
        corpus = faq.select(
            F.col("ques_id").alias("doc_id"),
            F.col("question").alias("text"),
            F.lit("en").alias("lang"),
        )
        primaries = faq.where("is_primary").select(
            F.col("ques_id").alias("doc_id"))
        syn_df = None
        if parsed.synonyms:
            syn_df = spark.createDataFrame(
                list(parsed.synonyms.items()),
                "term string, synonyms array<string>",
            )
        altq = faq.where("NOT is_primary").select(
            F.col("question").alias("alt_question"), "primary_id"
        ).join(
            faq.where("is_primary").select(
                F.col("ques_id").alias("primary_id"),
                F.col("question").alias("primary_question"),
            ),
            "primary_id",
        ).select("alt_question", "primary_question")
        onto, trip, n_trip, release = traced_kg_layers(
            spark, tracer, corpus, "en", sorted(parsed.stop_words),
            primaries=primaries, synonyms=syn_df, altq=altq,
        )
        with tracer.layer("export.build_export") as o:
            exp = export.build_export(onto, faq).persist()
            n_exp = o["rows"] = exp.count()
        with tracer.layer("export.write_export_json") as o:
            export.write_export_json(
                exp, parsed.synonyms, os.path.join(out, "ao_output.json"))
            o["rows"] = n_exp
        with tracer.layer("triples.write_triples") as o:
            triples.write_triples(trip, os.path.join(out, "triples"))
            o["rows"] = n_trip
        for fn in release + [exp.unpersist]:
            fn()

    def check(self, inp: Input, out: str) -> None:
        from tests.ref_impl import pipeline as ref

        parsed = faq_src.parse_json_export(inp.path)
        qmap, altq, alt_pairs = {}, {}, []
        for qid, question, norm, *_, is_primary, primary_id in parsed.rows:
            qmap[qid] = (question, norm)
            if is_primary:
                altq[qid] = []
            else:
                altq[primary_id].append(qid)
                alt_pairs.append((question, qmap[primary_id][0]))
        ttm = ref.run_reference_faq(qmap, altq, parsed.stop_words)
        expected = sorted(ref.derive_triples(ttm, parsed.synonyms, alt_pairs))
        if _read_triples(os.path.join(out, "triples")) != expected:
            raise CheckFailed("triples differ from tests/ref_impl")
        with open(os.path.join(out, "ao_output.json")) as f:
            n_out = len(json.load(f)["faqs"])
        if n_out != len(altq):
            raise CheckFailed(f"export holds {n_out} faqs, not {len(altq)}")


WORKLOADS = {w.name: w for w in (KgCorpus, DedupCrawl, FaqBuild)}
