"""End-to-end CLI workflow — the reference's three executables chained
(generate → synonyms → feed-back → analyze), SURVEY.md §3."""

from __future__ import annotations

import json
import os

from knowledgegraphgenerator_spark.__main__ import main

FILES = os.path.join(os.path.dirname(__file__), "fixtures", "files")


def test_cli_full_workflow(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    out_json = str(tmp_path / "ao_output.json")

    # 1. generate from CSV FAQ input (entry point 1)
    rc = main(
        ["faq", "--file_path", f"{FILES}/faq.csv", "--type", "csv",
         "--output_file_path", out_json], spark=spark,
    )
    assert rc == 0
    with open(out_json) as f:
        export = json.load(f)
    assert export["faqs"] and all("terms" in x for x in export["faqs"])
    assert os.path.exists(tmp_path / "analyzer_report.csv")

    # 2. synonym mining over the generated export (entry point 3)
    syn_csv = str(tmp_path / "generated_synonyms.csv")
    rc = main(
        ["synonyms", "--file_path", out_json, "--output_path", syn_csv],
        spark=spark,
    )
    assert rc == 0 and os.path.exists(syn_csv)

    # 3. regenerate from json_export WITH the generated synonyms (S10)
    out2 = str(tmp_path / "ao_output2.json")
    rc = main(
        ["faq", "--file_path", f"{FILES}/faq_export.json", "--type",
         "json_export", "--synonyms_file_path", syn_csv,
         "--output_file_path", out2], spark=spark,
    )
    assert rc == 0
    with open(out2) as f:
        export2 = json.load(f)
    # merged synonyms include both export-level and generated entries
    assert "rtgs" in export2["synonyms"]
    assert any(k for k in export2["synonyms"] if k not in ("rtgs",))

    # 4. standalone analyzer (entry point 2)
    report = str(tmp_path / "report.csv")
    rc = main(
        ["analyze", "--file_path", out2, "--report_path", report],
        spark=spark,
    )
    assert rc == 0 and os.path.exists(report)


def test_cli_corpus_with_resume(spark, tmp_path):
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    src = str(tmp_path / "pages")
    synthetic_web_pages(spark, 200, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "kg_out")
    rc = main(
        ["corpus", "--input", src, "--output", out,
         "--resume-root", str(tmp_path / "stages")], spark=spark,
    )
    assert rc == 0
    triples = spark.read.parquet(out)
    assert triples.count() > 0
    assert "subj_bucket" in triples.columns
    # resume: second run loads committed stages (fast) and succeeds
    rc = main(
        ["corpus", "--input", src, "--output", out,
         "--resume-root", str(tmp_path / "stages")], spark=spark,
    )
    assert rc == 0


def test_cli_dictionary_and_stream(spark, tmp_path):
    """Production maintenance loop through the CLI: vocabulary refresh
    writes the dictionary artifact; the stream subcommand enriches new
    files against it; a save/load round trip reproduces the directly
    collected ranking exactly."""
    from knowledgegraphgenerator_spark.core.stopwords import (
        resolve_stop_words,
    )
    from knowledgegraphgenerator_spark.operators import phrases
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    src = str(tmp_path / "pages")
    corpus = synthetic_web_pages(spark, 200, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    corpus.write.mode("overwrite").parquet(src)
    dict_path = str(tmp_path / "dict")

    rc = main(
        ["dictionary", "--input", src, "--output", dict_path],
        spark=spark,
    )
    assert rc == 0

    # round trip == direct collect (ranking keys stored, not ranks)
    stops = resolve_stop_words("en", None)
    frames = phrases.build_dictionary_frames(
        normalize_corpus(spark.read.parquet(src)), stops,
        "doc_id", "norm_text",
    )
    direct = phrases.collect_ranked_dictionary(dict(frames), stops)
    loaded = phrases.load_ranked_dictionary(spark, dict_path, stops)
    assert loaded.phrases == direct.phrases
    assert loaded.unigrams == direct.unigrams
    assert loaded.verbs == direct.verbs

    def stream(*linking):
        out = str(tmp_path / "_".join(("trip_out",) + linking))
        rc = main(
            ["stream", "--source", src, "--dictionary", dict_path,
             "--output", out, "--checkpoint", out + "_ckpt", *linking],
            spark=spark,
        )
        assert rc == 0
        return sorted(
            tuple(r) for r in spark.read.parquet(out)
            .select("subj", "pred", "obj").collect()
        )

    default = stream()
    assert default
    # the explicit strategies emit the default auto stream's triples
    assert stream("--linking", "broadcast") == default
    assert stream("--linking", "blocked") == default


def test_cli_corpus_dedup_chain(spark, tmp_path):
    """corpus --dedup chain runs exact-then-fuzzy dedup before the
    pipeline: a corpus where half the docs are exact clones must yield
    the same triples as running on the pre-deduped corpus directly."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    pages = synthetic_web_pages(spark, 120, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    # duplicate every doc under a higher id — exact clones
    clones = pages.withColumn("doc_id", F.col("doc_id") + 1000)
    src = str(tmp_path / "pages_dup")
    pages.unionByName(clones).write.mode("overwrite").parquet(src)

    out_d = str(tmp_path / "kg_dedup")
    rc = main(
        ["corpus", "--input", src, "--output", out_d, "--dedup", "chain"],
        spark=spark,
    )
    assert rc == 0

    src_clean = str(tmp_path / "pages_clean")
    pages.write.mode("overwrite").parquet(src_clean)
    out_c = str(tmp_path / "kg_clean")
    rc = main(
        ["corpus", "--input", src_clean, "--output", out_c],
        spark=spark,
    )
    assert rc == 0

    def tset(path):
        return {
            tuple(r) for r in spark.read.parquet(path)
            .select("subj", "pred", "obj").collect()
        }

    deduped = tset(out_d)
    assert deduped == tset(out_c)
    assert len(deduped) > 0


def test_ingest_dictionary_stream_composition(spark, tmp_path):
    """examples/INGEST_ENRICH.md end-to-end through the CLI: two crawl
    drops with cross-batch exact duplicates → ingest (admit-only-novel
    with the signature store) → dictionary refresh over the admitted
    corpus → streaming enrichment reading the INGEST CORPUS as its
    source. The streamed triples must equal a batch link of exactly
    the admitted documents against the same frozen dictionary."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.core.stopwords import (
        resolve_stop_words,
    )
    from knowledgegraphgenerator_spark.operators import linking, phrases
    from knowledgegraphgenerator_spark.operators.triples import (
        ontology_triples,
    )
    from knowledgegraphgenerator_spark.pipeline import normalize_corpus
    from knowledgegraphgenerator_spark.sources.webpages import (
        synthetic_web_pages,
    )

    pages = synthetic_web_pages(spark, 160, n_partitions=4).select(
        "doc_id", "url", "warc_ts", "text", "lang"
    )
    drop1 = pages.where("doc_id % 2 = 0")
    # drop 2 = the odd docs (novel) + exact clones of admitted docs
    clones = drop1.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    drop2 = pages.where("doc_id % 2 = 1").unionByName(clones)

    src = str(tmp_path / "crawl")
    corpus_dir = str(tmp_path / "corpus")
    store = str(tmp_path / "sketches")
    ing = ["ingest", "--source", src, "--corpus", corpus_dir,
           "--checkpoint", str(tmp_path / "ck_ing"), "--store", store]

    drop1.write.mode("overwrite").parquet(src)
    assert main(ing, spark=spark) == 0
    drop2.write.mode("append").parquet(src)
    assert main(ing, spark=spark) == 0

    admitted = spark.read.parquet(corpus_dir)
    adm_ids = {r.doc_id for r in admitted.select("doc_id").collect()}
    # every clone rejected against the stored sketches
    assert not any(i >= 100_000 for i in adm_ids)

    dict_path = str(tmp_path / "dict")
    assert main(
        ["dictionary", "--input", corpus_dir, "--output", dict_path],
        spark=spark,
    ) == 0

    out = str(tmp_path / "triples")
    assert main(
        ["stream", "--source", corpus_dir, "--dictionary", dict_path,
         "--output", out, "--checkpoint", str(tmp_path / "ck_str")],
        spark=spark,
    ) == 0

    stops = resolve_stop_words("en", None)
    dictionary = phrases.load_ranked_dictionary(spark, dict_path, stops)
    batch = ontology_triples(
        linking.link_terms(
            normalize_corpus(admitted.select("doc_id", "text", "lang")),
            dictionary,
        ),
        row_local_dedup=True,
    )

    def multiset(df):
        return sorted(
            tuple(r) for r in df.select("subj", "pred", "obj").collect()
        )

    streamed = multiset(spark.read.parquet(out))
    assert streamed == multiset(batch)
    assert len(streamed) > 0


def test_cli_index_then_search(spark, tmp_path, monkeypatch, capsys):
    """`index` materializes the bucketed retrieval store; `search`
    serves BM25 off it — including via the warehouse-files fallback a
    separate process would hit on the in-memory catalog (simulated by
    forcing catalog resolution to miss)."""
    monkeypatch.chdir(tmp_path)
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "apple cherry"),
         (3, "banana banana banana cherry")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_parquet")
    docs.write.parquet(src)

    rc = main(
        ["index", "--input", src, "--postings-table", "t_cli_post",
         "--doclen-table", "t_cli_dl", "--buckets", "2"], spark=spark,
    )
    assert rc == 0

    out = str(tmp_path / "hits")
    rc = main(
        ["search", "--terms", "apple,cherry", "--k", "2",
         "--postings-table", "t_cli_post", "--doclen-table", "t_cli_dl",
         "--output", out], spark=spark,
    )
    assert rc == 0
    hits = {r["doc_id"]: r["rnk"] for r in spark.read.parquet(out).collect()}
    assert len(hits) == 2 and 2 in hits  # doc 2 matches both terms

    # stdout mode + warehouse fallback (catalog miss -> managed files)
    monkeypatch.setattr(
        type(spark.catalog), "tableExists", lambda self, t: False
    )
    rc = main(
        ["search", "--terms", "apple,cherry", "--k", "2",
         "--postings-table", "t_cli_post", "--doclen-table", "t_cli_dl"],
        spark=spark,
    )
    assert rc == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines() if x.startswith("{")]
    assert {h["doc_id"] for h in lines} == set(hits)


def test_cli_curate_chain(spark, tmp_path):
    """curate --line-dedup --pii --max-avg-nll must equal the library
    chain (drop_repeated_lines → scrub_pii → lm_doc_score filter)
    applied in the same order, and the output corpus schema must stay
    `corpus`/`ingest`-compatible (text column, plus the LM columns)."""
    import pyspark.sql.functions as F

    from knowledgegraphgenerator_spark.operators.curation import (
        drop_repeated_lines,
        lm_doc_score,
        scrub_pii,
    )

    rows = [
        (1, "nav bar\nthe cat sat on the mat\nnav bar", "en"),
        (2, "contact me@example.com now\nthe cat sat here", "en"),
        (3, "zq xv qp zq wv", "en"),  # rare bigrams: worst LM score
        (4, "the cat sat on the mat again today", "en"),
        (5, "x", "en"),  # unscorable (<2 tokens): dropped by the filter
    ]
    src = str(tmp_path / "curate_src")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    # library chain, same order as the CLI
    lib = drop_repeated_lines(spark.read.parquet(src)).drop("n_dropped")
    lib = (
        scrub_pii(lib)
        .drop("text", "n_emails", "n_ips", "n_phones")
        .withColumnRenamed("scrubbed", "text")
    )
    scores = lm_doc_score(lib)
    cut = scores.agg(F.max("avg_nll_i4")).collect()[0][0] - 1
    expected = {
        tuple(r)
        for r in lib.join(
            scores.where(F.col("avg_nll_i4") <= cut), "doc_id"
        ).select("doc_id", "text").collect()
    }

    out = str(tmp_path / "curate_out")
    rc = main(
        [
            "curate", "--input", src, "--output", out,
            "--line-dedup", "--pii", "--max-avg-nll", str(cut),
        ],
        spark=spark,
    )
    assert rc == 0
    got_df = spark.read.parquet(out)
    assert {"doc_id", "text", "lang", "n_pairs", "nll_i4", "avg_nll_i4"} \
        <= set(got_df.columns)
    got = {tuple(r) for r in got_df.select("doc_id", "text").collect()}
    assert got == expected
    ids = {r[0] for r in got}
    assert 3 not in ids and 5 not in ids  # worst-scored + unscorable out
    assert 1 in ids and 2 in ids and 4 in ids
    texts = dict(got)
    assert texts[1] == "nav bar\nthe cat sat on the mat"  # line deduped
    assert "<EMAIL>" in texts[2] and "me@example.com" not in texts[2]
