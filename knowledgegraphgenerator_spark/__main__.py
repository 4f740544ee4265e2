"""CLI — reference command-line parity (KnowledgeGraphGenerator.py:67-93)
plus the web-corpus subcommand.

  python -m knowledgegraphgenerator_spark faq \\
      --file_path faqs.json --type json_export [--language en] \\
      [--synonyms_file_path generated_synonyms.csv] \\
      [--output_file_path ao_output.json]

  python -m knowledgegraphgenerator_spark corpus \\
      --input /path/web_pages_parquet --output /path/kg_out \\
      [--language en] [--resume-root /path/stages]

  python -m knowledgegraphgenerator_spark analyze \\
      --file_path ao_output.json [--language en]

  python -m knowledgegraphgenerator_spark dictionary \\
      --input /path/web_pages_parquet --output /path/dict_parquet

  python -m knowledgegraphgenerator_spark stream \\
      --source /path/incoming --dictionary /path/dict_parquet \\
      --output /path/triples --checkpoint /path/ckpt

  python -m knowledgegraphgenerator_spark index \\
      --input /path/documents_parquet [--buckets 32]
  python -m knowledgegraphgenerator_spark search \\
      --terms spark,window --k 20 [--output /path/hits]

  python -m knowledgegraphgenerator_spark curate \\
      --input /path/web_pages_parquet --output /path/cleaned \\
      [--line-dedup] [--pii] [--lm-score] [--max-avg-nll 40000] \\
      [--lm-artifact /path/model | --save-lm-artifact /path/model]

For cluster runs: zip the package (scripts/package.sh) and
``spark-submit --py-files kg_spark.zip run_kg.py ...`` — the module only
uses SparkSession.builder, no local-mode assumptions.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, spark=None) -> int:
    from knowledgegraphgenerator_spark.operators.linking import STRATEGIES

    ap = argparse.ArgumentParser(prog="knowledgegraphgenerator_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    faq = sub.add_parser("faq", help="FAQ input → ao_output.json + triples")
    faq.add_argument("--file_path", required=True)
    faq.add_argument("--type", dest="request_type", required=True,
                     choices=["csv", "json_export", "csv_export"])
    faq.add_argument("--language", default="en")
    faq.add_argument("--synonyms_file_path", default=None)
    # reference hard-codes 'ao_output.json' (KnowledgeGraphGenerator.py:85)
    faq.add_argument("--output_file_path", default="ao_output.json")
    faq.add_argument("--triples_path", default=None)

    corpus = sub.add_parser("corpus", help="web_pages parquet → KG tables")
    corpus.add_argument("--input", required=True)
    corpus.add_argument("--output", required=True)
    corpus.add_argument("--language", default="en")
    corpus.add_argument("--resume-root", default=None)
    corpus.add_argument("--linking", default="auto", choices=STRATEGIES)
    corpus.add_argument(
        "--dedup", default="none",
        choices=["none", "exact", "chain"],
        help="pre-pipeline corpus dedup: 'exact' = hash dedup; "
             "'chain' = exact then MinHash near-dedup (crawl order — "
             "exact MUST precede fuzzy, operators/dedup.py:crawl_dedup)",
    )

    an = sub.add_parser("analyze", help="diagnostics over an export JSON")
    an.add_argument("--file_path", required=True)
    an.add_argument("--language", default="en")
    an.add_argument("--report_path", default="analyzer_report.csv")

    syn = sub.add_parser(
        "synonyms",
        help="mine synonyms from KG answers (reference entry point 3, "
             "synonym_generator.py:55-72)",
    )
    syn.add_argument("--file_path", required=True)
    syn.add_argument("--output_path", default="generated_synonyms.csv")

    dd = sub.add_parser(
        "dictionary",
        help="vocabulary refresh: corpus parquet → dictionary parquet "
             "(the frozen artifact stream enrichment links against)",
    )
    dd.add_argument("--input", required=True)
    dd.add_argument("--output", required=True)
    dd.add_argument("--language", default="en")

    st = sub.add_parser(
        "stream",
        help="streaming KG enrichment: new web-page files → triples, "
             "linked against a frozen dictionary parquet, exactly-once",
    )
    st.add_argument("--source", required=True)
    st.add_argument("--dictionary", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--language", default="en")
    st.add_argument("--linking", default="auto", choices=STRATEGIES)

    ing = sub.add_parser(
        "ingest",
        help="streaming admit-only-novel ingestion: new web-page files "
             "are deduped within batch (exact then MinHash) and against "
             "the accumulated corpus; survivors append, exactly-once",
    )
    ing.add_argument("--source", required=True)
    ing.add_argument("--corpus", required=True)
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument(
        "--store", default=None,
        help="signature-store dir: persist per-batch shingle/band "
             "sketches and admit later batches against the stored "
             "sketches instead of re-reading the corpus text",
    )
    ing.add_argument(
        "--benchmark", default=None,
        help="parquet of benchmark (shingle string) rows: drop "
             "contaminated documents (n-gram overlap >= 200 permille) "
             "from each batch BEFORE dedup/admit",
    )
    ing.add_argument(
        "--index", action="store_true",
        help="also index each admitted batch into the bucketed BM25 "
             "store (bm25_postings / bm25_doclen): crawl -> admit -> "
             "index -> serve in one stream",
    )
    ing.add_argument("--index-buckets", type=int, default=8)
    ing.add_argument(
        "--lm-artifact", default=None,
        help="quality-gated admission: frozen save_lm_artifact() model "
             "to score each batch against (requires --max-avg-nll)",
    )
    ing.add_argument(
        "--max-avg-nll", type=int, default=None,
        help="drop documents whose avg_nll_i4 under --lm-artifact "
             "exceeds this bound, before dedup/admit",
    )

    ix = sub.add_parser(
        "index",
        help="documents parquet (doc_id, text) → bucketed "
             "postings/doclen catalog tables — the BM25 serving store",
    )
    ix.add_argument("--input", required=True)
    ix.add_argument("--postings-table", default="bm25_postings")
    ix.add_argument("--doclen-table", default="bm25_doclen")
    ix.add_argument("--buckets", type=int, default=32)

    se = sub.add_parser(
        "search",
        help="BM25 top-k over an indexed store (same session catalog "
             "or the warehouse files a previous `index` run wrote)",
    )
    se.add_argument("--terms", required=True,
                    help="comma-separated query terms")
    se.add_argument("--k", type=int, default=20)
    se.add_argument("--postings-table", default="bm25_postings")
    se.add_argument("--doclen-table", default="bm25_doclen")
    se.add_argument("--output", default=None,
                    help="write results parquet; default prints one "
                         "JSON line per hit")

    cu = sub.add_parser(
        "curate",
        help="crawl-text curation chain: in-doc line dedup → PII "
             "scrub → bigram-LM quality scoring/filter — cleaned "
             "corpus parquet ready for `corpus`/`ingest`",
    )
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument(
        "--line-dedup", action="store_true",
        help="remove repeated exact lines within each document "
             "(RefinedWeb line-wise correction)",
    )
    cu.add_argument(
        "--pii", action="store_true",
        help="redact emails/IPv4s/phones in place",
    )
    cu.add_argument(
        "--lm-score", action="store_true",
        help="attach n_pairs/nll_i4/avg_nll_i4 from a corpus-trained "
             "add-one bigram LM (CCNet-style), scored AFTER the text "
             "rewrites",
    )
    cu.add_argument(
        "--max-avg-nll", type=int, default=None,
        help="drop documents whose avg_nll_i4 exceeds this bound "
             "(integer 1e-4 nats; implies --lm-score); docs too short "
             "to score (<2 tokens) are dropped too",
    )
    cu.add_argument(
        "--lm-artifact", default=None,
        help="score against a FROZEN save_lm_artifact() model instead "
             "of self-training on the input (the CCNet reference-model "
             "regime); implies --lm-score",
    )
    cu.add_argument(
        "--save-lm-artifact", default=None,
        help="ALSO train a bigram LM on the text that SHIPS (after any "
             "--max-avg-nll filter) and persist it to this path for "
             "later --lm-artifact runs",
    )

    for p in (faq, corpus, an, syn, dd, st, ing, ix, se, cu):
        p.add_argument("--v", action="store_true", help="verbose")

    args = ap.parse_args(argv)
    if args.cmd == "search":
        args.term_list = [
            t.strip() for t in args.terms.split(",") if t.strip()
        ]
        if not args.term_list:
            # clean exit-2 before any Spark session spins up
            ap.error("search: --terms needs at least one non-empty term")

    owns_session = spark is None
    if owns_session:
        from knowledgegraphgenerator_spark.session import get_spark

        spark = get_spark(app_name=f"kg-{args.cmd}")
    try:
        if args.cmd == "faq":
            from knowledgegraphgenerator_spark.pipeline import run_faq_pipeline

            _, result = run_faq_pipeline(
                spark, args.file_path, args.request_type, args.language,
                synonyms_csv_path=args.synonyms_file_path,
                output_json_path=args.output_file_path,
            )
            if args.triples_path:
                from knowledgegraphgenerator_spark.operators.triples import (
                    write_triples,
                )

                write_triples(result.triples, args.triples_path)
            # post-hoc diagnostics, as the reference does in-process
            # (KnowledgeGraphGenerator.py:54-61)
            from knowledgegraphgenerator_spark.operators.analyzer import (
                run_diagnostics,
            )

            with open(args.output_file_path) as f:
                export = json.load(f)
            run_diagnostics(spark, export, args.language,
                            report_csv_path="analyzer_report.csv")
        elif args.cmd == "corpus":
            df = spark.read.parquet(args.input)
            if args.dedup == "exact":
                from knowledgegraphgenerator_spark.operators.dedup import (
                    exact_dedup,
                )

                df = exact_dedup(df, "text", "doc_id")
            elif args.dedup == "chain":
                from knowledgegraphgenerator_spark.operators.dedup import (
                    crawl_dedup,
                )

                df = crawl_dedup(df, "text", "doc_id")
            if args.resume_root:
                from knowledgegraphgenerator_spark.plans.runner import (
                    run_resumable_pipeline,
                )

                triples = run_resumable_pipeline(
                    spark, df, args.resume_root, args.language,
                    linking_strategy=args.linking,
                )
            else:
                from knowledgegraphgenerator_spark.pipeline import run_pipeline

                triples = run_pipeline(
                    df, lang=args.language, linking=args.linking
                ).triples
            from knowledgegraphgenerator_spark.operators.triples import (
                write_triples,
            )

            write_triples(triples, args.output)
        elif args.cmd == "dictionary":
            from knowledgegraphgenerator_spark.core.stopwords import (
                resolve_stop_words,
            )
            from knowledgegraphgenerator_spark.operators import phrases
            from knowledgegraphgenerator_spark.pipeline import normalize_corpus

            stops = resolve_stop_words(args.language, None)
            normalized = normalize_corpus(spark.read.parquet(args.input))
            frames = phrases.build_dictionary_frames(
                normalized, stops, "doc_id", "norm_text"
            )
            phrases.save_dictionary(dict(frames), args.output)
        elif args.cmd == "stream":
            from knowledgegraphgenerator_spark.core.stopwords import (
                resolve_stop_words,
            )
            from knowledgegraphgenerator_spark.streaming.incremental import (
                incremental_kg_triples_linked,
            )

            chosen = incremental_kg_triples_linked(
                spark, args.source, args.dictionary,
                resolve_stop_words(args.language, None),
                args.output, args.checkpoint, args.linking,
            )
            if args.v:
                print(f"stream linking strategy: {chosen}")
        elif args.cmd == "ingest":
            from knowledgegraphgenerator_spark.streaming.incremental import (
                incremental_ingest_dedup,
            )

            incremental_ingest_dedup(
                spark, args.source, args.corpus, args.checkpoint,
                store_dir=args.store,
                benchmark_dir=args.benchmark,
                index_tables=(
                    ("bm25_postings", "bm25_doclen")
                    if args.index else None
                ),
                index_buckets=args.index_buckets,
                lm_artifact_dir=args.lm_artifact,
                max_avg_nll=args.max_avg_nll,
            )
        elif args.cmd == "index":
            from knowledgegraphgenerator_spark.operators.retrieval import (
                tokenize_whitespace,
                write_retrieval_tables,
            )

            tokens = tokenize_whitespace(spark.read.parquet(args.input))
            write_retrieval_tables(
                tokens,
                postings_table=args.postings_table,
                dl_table=args.doclen_table,
                n_buckets=args.buckets,
            )
            if args.v:
                print(f"indexed -> {args.postings_table}, "
                      f"{args.doclen_table}")
        elif args.cmd == "search":
            from knowledgegraphgenerator_spark.operators.retrieval import (
                bm25_topk_served,
            )

            hits = bm25_topk_served(
                spark, args.term_list, k=args.k,
                postings_table=args.postings_table,
                dl_table=args.doclen_table,
            )
            if args.output:
                hits.write.mode("overwrite").parquet(args.output)
            else:
                for r in hits.collect():
                    print(json.dumps(r.asDict()))
        elif args.cmd == "curate":
            # fixed order: layout corrections first (line dedup), then
            # text rewrites (PII), then LM scoring over the FINAL text
            # — the model must be trained on what ships
            from pyspark.sql import functions as F

            from knowledgegraphgenerator_spark.operators.curation import (
                drop_repeated_lines,
                lm_doc_score,
                lm_doc_score_from_artifact,
                save_lm_artifact,
                scrub_pii,
            )

            df = spark.read.parquet(args.input)
            if args.line_dedup:
                df = drop_repeated_lines(df).drop("n_dropped")
            if args.pii:
                df = (
                    scrub_pii(df)
                    .drop("text", "n_emails", "n_ips", "n_phones")
                    .withColumnRenamed("scrubbed", "text")
                )
            want_scores = (
                args.lm_score
                or args.max_avg_nll is not None
                or args.lm_artifact is not None
            )
            if want_scores or args.save_lm_artifact:
                # curation chains re-read df several times upstream of
                # the LM's corpus-wide aggregations — persist the
                # rewritten text once so the scan doesn't re-run per job
                df = df.persist()
            if want_scores:
                # re-curating an already-scored corpus: stale LM
                # columns would collide with the fresh score join
                df = df.drop("n_pairs", "nll_i4", "avg_nll_i4")
                if args.lm_artifact:
                    scores = lm_doc_score_from_artifact(
                        df, args.lm_artifact
                    )
                else:
                    scores = lm_doc_score(df)
                if args.max_avg_nll is not None:
                    scores = scores.where(
                        F.col("avg_nll_i4") <= args.max_avg_nll
                    )
                    df = df.join(scores, "doc_id")
                else:
                    df = df.join(scores, "doc_id", "left")
            if args.save_lm_artifact:
                # train on the text that SHIPS — after any quality
                # filter, so the frozen reference model is not
                # contaminated by the documents this run dropped
                save_lm_artifact(df, args.save_lm_artifact)
            df.write.mode("overwrite").parquet(args.output)
            if args.v:
                print(f"curated corpus -> {args.output}")
        elif args.cmd == "synonyms":
            from knowledgegraphgenerator_spark.operators.word2vec import (
                synonym_generation_master,
            )

            with open(args.file_path) as f:
                export = json.load(f)
            rows = synonym_generation_master(spark, export, args.output_path)
            if args.v:
                print(f"{len(rows)} synonym rows -> {args.output_path}")
        else:
            from knowledgegraphgenerator_spark.operators.analyzer import (
                run_diagnostics,
            )

            with open(args.file_path) as f:
                export = json.load(f)
            resp = run_diagnostics(spark, export, args.language,
                                   report_csv_path=args.report_path)
            print(json.dumps(
                {k: resp[k] for k in
                 ("no_of_errors", "no_of_suggestions", "total_no_of_issues")}
            ))
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
