"""Incremental corpus processing (Structured Streaming, Trigger.AvailableNow).

The reference is a batch CLI (SURVEY.md §2.12) and the north rule asks for
batch-with-resume, which plans/runner.py provides. This module is the
*incremental ingest* complement: new web-page files landing in a
directory are normalized + feature-extracted exactly once, with Spark's
checkpoint directory providing the processed-file ledger. The
corpus-global stages (dictionary, linking, hierarchy) are then run in
batch over the accumulated feature table — term statistics are global
aggregates, so recomputing them per micro-batch would change history;
splitting ingest (streaming, per-row, embarrassingly parallel) from
global stages (batch, resumable) is the correct decomposition at 100 TB.

``run_available_now`` drains everything currently in the source and
stops — idempotent catch-up runs, cron-able.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEB_PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def incremental_normalize(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    stop_tokens: frozenset[str],
) -> None:
    """readStream(parquet dir) → normalize + extract features →
    writeStream(parquet, AvailableNow). Exactly-once per input file via
    the stream checkpoint; output is the features table consumed by the
    batch dictionary/linking stages."""
    from knowledgegraphgenerator_spark.functions.udfs import normalize_text_udf
    from knowledgegraphgenerator_spark.operators.phrases import (
        extract_doc_features,
    )

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    normalized = stream.select(
        "doc_id",
        F.col("text").alias("question"),
        "lang",
        normalize_text_udf(F.col("text"), F.col("lang")).alias("norm_text"),
    )
    features = extract_doc_features(normalized, stop_tokens,
                                    "doc_id", "norm_text")
    q = (
        features.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_kg_triples(
    spark: SparkSession,
    source_dir: str,
    dictionary,
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming KG ENRICHMENT: new web-page files → normalize → link
    against a FROZEN ranked dictionary → per-doc ontology triples,
    appended exactly once (stream checkpoint = processed-file ledger).

    Production KG maintenance splits vocabulary REFRESH (periodic batch
    over the accumulated corpus — term statistics are corpus-global,
    see module docstring) from document enrichment (this): a doc's
    triples depend only on the doc and the frozen dictionary, so the
    whole stream plan is map-only — broadcast matcher, no aggregation,
    no watermark, no state — and append mode is exact, not approximate.
    To keep it map-only the narrower_than edges are deduplicated
    ROW-LOCALLY (``ontology_triples(row_local_dedup=True)``): the batch
    path's corpus-global ``.distinct()`` would be a stateful
    ``Deduplicate`` with unbounded cross-batch state here (ADVICE r3
    #3). Consequence: the emitted triple SET equals the batch path's,
    but duplicate narrower_than rows may appear across documents —
    identical semantics to the blocked streaming variant below, which
    dedups per batch; consumers of the raw append stream read triples
    as a set, and the periodic batch refresh rewrites the exact graph.
    The hierarchy optimiser (G1/G2) is deliberately absent here: it
    reads corpus-wide path statistics, so it belongs to the batch
    refresh, which rewrites the optimised graph from the accumulated
    ontology (plans/runner.py stages).
    """
    from knowledgegraphgenerator_spark.functions.udfs import normalize_text_udf
    from knowledgegraphgenerator_spark.operators.linking import link_terms
    from knowledgegraphgenerator_spark.operators.triples import (
        ontology_triples,
    )

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    normalized = stream.where(
        # rows with no identity or no text cannot be enriched; dropping
        # them here also makes a source dir containing foreign parquet
        # (schema-mismatched files project to all-NULL rows) a no-op
        # instead of a stream of null docs
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.col("text").alias("question"),
        normalize_text_udf(F.col("text"), F.col("lang")).alias("norm_text"),
    )
    onto = link_terms(normalized, dictionary)
    trips = ontology_triples(onto, row_local_dedup=True)
    q = (
        trips.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_kg_triples_blocked(
    spark: SparkSession,
    source_dir: str,
    dictionary_frames,
    stop_tokens: frozenset[str],
    target_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming enrichment for the dictionary-BEYOND-BROADCAST regime:
    the frozen vocabulary stays on the cluster as section DataFrames
    (operators/phrases.py:load_dictionary_frames) and each micro-batch
    links via the token-block equi-join (link_terms_blocked) inside
    ``foreachBatch`` — joins against static frames are batch-context
    operations, so the fallback matcher runs unchanged.

    Exactly-once: each batch OVERWRITES its own ``batch_id=N``
    subdirectory — a retried batch rewrites the same directory instead
    of appending duplicates (the standard idempotent-foreachBatch
    pattern). Readers see batch_id as a partition column.

    Resource hygiene (ADVICE r3 #2): link_terms_blocked persists the
    tokenized batch and broadcasts the stop set per call; over a
    long-lived stream those accumulate. Each batch passes a ``cleanup``
    list and releases both right after its write completes, so executor
    cache/broadcast footprint stays O(one batch). Dedup semantics match
    the broadcast stream: row-local narrower_than dedup plus the batch
    write's own distinct-per-batch — never cross-batch state.
    """
    from knowledgegraphgenerator_spark.functions.udfs import normalize_text_udf
    from knowledgegraphgenerator_spark.operators.linking import (
        link_terms_blocked,
    )
    from knowledgegraphgenerator_spark.operators.triples import (
        ontology_triples,
    )

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    normalized = stream.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.col("text").alias("question"),
        normalize_text_udf(F.col("text"), F.col("lang")).alias("norm_text"),
    )

    def _link_batch(batch_df, batch_id: int) -> None:
        cleanup: list = []
        onto = link_terms_blocked(
            batch_df, dictionary_frames, stop_tokens,
            id_col="doc_id", raw_col="question", norm_col="norm_text",
            cleanup=cleanup,
        )
        try:
            (
                ontology_triples(onto, row_local_dedup=True)
                .write.mode("overwrite")
                .parquet(f"{target_dir}/batch_id={batch_id}")
            )
        finally:
            for fn in cleanup:
                fn()

    q = (
        normalized.writeStream.foreachBatch(_link_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _check_signature_store_family(spark, store_dir: str) -> None:
    """Refuse to serve a signature store written under a DIFFERENT
    MinHash permutation family (r6 review finding): bands from another
    family never collide with this one's, so admitting against them
    silently treats every near-duplicate as novel. New/empty stores are
    stamped with the current ``dedup.SIGNATURE_FAMILY``; a store with
    data but no stamp predates the marker (or was written by an older
    family) and must be rebuilt — deleting ``shingles/`` and ``bands/``
    is enough, the stream's backfill loop re-derives them from corpus
    text under the current family."""
    from knowledgegraphgenerator_spark.operators.dedup import (
        SIGNATURE_FAMILY,
    )
    from knowledgegraphgenerator_spark.plans.runner import (
        fs_exists,
        hadoop_fs,
        list_subdirs,
    )

    marker = f"{store_dir}/_SIG_FAMILY"
    rebuild_hint = (
        f"delete {store_dir}/shingles, {store_dir}/bands and "
        f"{marker}; the stream backfills the store from corpus text "
        "under the current family"
    )
    if fs_exists(spark, marker):
        # NOT spark.read.text: Spark's file index skips _-prefixed
        # files (the same hidden-file rule that protects _SUCCESS), so
        # the marker must be read through the FileSystem API directly
        jvm = spark.sparkContext._jvm
        fs, hpath = hadoop_fs(spark, marker)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(hpath), "UTF-8")
        )
        try:
            found = (reader.readLine() or "").strip()
        finally:
            reader.close()
        if found != SIGNATURE_FAMILY:
            raise ValueError(
                f"signature store {store_dir} was written under MinHash "
                f"family {found!r}; this build uses "
                f"{SIGNATURE_FAMILY!r} — their band signatures never "
                f"match, so serving it would silently admit every "
                f"near-duplicate. To rebuild: {rebuild_hint}"
            )
        return
    has_data = bool(list_subdirs(spark, f"{store_dir}/shingles")) or bool(
        list_subdirs(spark, f"{store_dir}/bands")
    )
    if has_data:
        raise ValueError(
            f"signature store {store_dir} has data but no _SIG_FAMILY "
            f"marker — it predates the family stamp (or was written by "
            f"an older build) and its sketches are not comparable to "
            f"{SIGNATURE_FAMILY!r}. To rebuild: {rebuild_hint}"
        )
    fs, hpath = hadoop_fs(spark, marker)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(SIGNATURE_FAMILY.encode("utf-8")))
    finally:
        out.close()


def incremental_ingest_dedup(
    spark: SparkSession,
    source_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    max_bucket: int | None = 1000,
    store_dir: str | None = None,
    benchmark_dir: str | None = None,
    contamination_threshold_permille: int = 200,
    index_tables: tuple[str, str] | None = None,
    index_buckets: int = 8,
    lm_artifact_dir: str | None = None,
    max_avg_nll: int | None = None,
) -> None:
    """Streaming crawl ingestion that ADMITS ONLY NOVEL documents: each
    micro-batch is deduped (a) within itself in crawl order
    (operators/dedup.py:crawl_dedup — exact hash first, then MinHash)
    and (b) against the ACCUMULATED admitted corpus via the asymmetric
    batch-vs-corpus band join (admit_batch — new×new and old×old pairs
    never materialize, work tracks |batch|); survivors append to the
    corpus, so the next batch dedups against them. This is the streaming
    face of the daily-ingest regime the incremental operators exist for.

    Exactly-once AND replay-safe: survivors land in
    ``corpus_dir/batch_id=N`` via overwrite — a retried batch rewrites
    its own partition, never appends duplicates — and the old-corpus
    read EXCLUDES the current batch's own partition (ADVICE r4 #1): on
    a foreachBatch retry (crash after the ``batch_id=N`` write but
    before the checkpoint offset commit) the corpus already contains
    this batch's output, and reading it back would make every survivor
    an exact duplicate of itself, emptying the partition permanently.
    Prior partitions are enumerated explicitly through the Hadoop
    FileSystem API (cluster-FS-safe); a missing corpus dir is the
    legitimate first-batch case, while any OTHER read failure
    (transient FS error, permissions, corrupt footer) propagates and
    fails the batch so the stream retries — it is NOT treated as
    "first batch" (ADVICE r4 #2). Rows without identity or text are
    dropped at the source (no stable doc_id → no dedup key).

    ``store_dir`` (VERDICT r4 'Next round' #7 — ingest compaction):
    when set, each admitted batch ALSO persists its shingles and
    banded minhash signatures (``<store_dir>/shingles/batch_id=N``,
    ``<store_dir>/bands/batch_id=N``) and later batches admit against
    those stored sketches via ``admit_batch_against_store`` — the
    corpus TEXT is never re-read or re-shingled, so per-batch admit
    cost tracks |batch| + one scan of the compact sketch store instead
    of growing with the full corpus. Admit decisions are
    differential-equal to the recompute path (test_runner_streaming).
    Store partitions get the same replay-safe own-partition exclusion
    and overwrite semantics as the corpus. The CORPUS is the source of
    truth and the store a derived cache: any prior corpus batch
    missing from either store frame (store enabled mid-life, partial
    restore, pruned bands) is BACKFILLED from corpus text before the
    admit join, so cross-batch dedup is never silently skipped; a
    corpus dir containing anything other than ``batch_id=N``
    partitions fails loudly instead of deduping against nothing.

    ``benchmark_dir``: parquet of (shingle string) rows — an eval
    benchmark's token-3-gram shingle set. When set, each batch is
    DECONTAMINATED first (curation.drop_contaminated: docs whose
    shingle overlap reaches ``contamination_threshold_permille`` are
    dropped), BEFORE dedup/admit — so a contaminated document neither
    enters the corpus nor becomes the crawl-order canonical that
    shadows a clean near-duplicate. The benchmark frame is read once
    at stream start and broadcast per batch (benchmarks are frozen for
    a stream's lifetime and MB-sized, same discipline as the frozen
    linking dictionary). Admit decisions are differential-equal to the
    sequential decontaminate → crawl_dedup → admit chain
    (test_runner_streaming).

    ``lm_artifact_dir`` + ``max_avg_nll`` (both required together):
    QUALITY-GATED admission — each batch is filtered through
    curation.lm_quality_filter against a FROZEN save_lm_artifact()
    bigram LM (documents whose avg_nll_i4 exceeds the bound, or that
    are too short to score, drop) AFTER decontamination and BEFORE
    dedup/admit, for the same structural reason decontamination runs
    first: a junk document must not survive as the crawl-order
    canonical that shadows a good near-duplicate. The model frames are
    loaded ONCE at stream start (frozen-dictionary discipline); admit
    decisions are differential-equal to the sequential decontaminate →
    lm_quality_filter → crawl_dedup → admit chain
    (test_runner_streaming).

    ``index_tables`` = (postings_table, doclen_table): each admitted
    batch is ALSO indexed into the bucketed BM25 retrieval store
    (operators/retrieval.py) — the crawl → admit → index → serve loop
    in one stream. The first batch creates the store; later batches
    append (at most one file per bucket per batch). Replay safety
    composes: the corpus write is exactly-once by partition overwrite,
    and the index append's doc-length guard makes a replayed batch a
    no-op; if an append fails mid-way the handler runs
    repair_retrieval_store before re-raising, AND each stream PROCESS
    runs the same repair once before its first append — covering the
    crash points the in-process handler cannot (killed between the
    two appends, or death of the repairing process itself), since a
    doclen table that lags the committed postings would otherwise let
    the retried batch re-append postings and double-count tf/df. With
    both, the retry is exactly-once at every crash point. Caveat: on
    the default in-memory catalog the store's CATALOG ENTRY dies with
    the process — a restarted stream fails loudly on the first append
    (append requires an existing catalog table) rather than forking a
    batch-only store; cross-restart streaming indexing REQUIRES a
    shared metastore (an `index` CLI rebuild cannot help: its catalog
    entry dies with its own process too).
    """
    from knowledgegraphgenerator_spark.operators.dedup import (
        admit_batch,
        admit_batch_against_store,
        batch_signature_parts,
        crawl_dedup,
    )
    from knowledgegraphgenerator_spark.plans.runner import (
        list_children,
        list_subdirs,
    )

    bench = None
    if benchmark_dir is not None:
        from knowledgegraphgenerator_spark.operators.curation import (
            drop_contaminated,
        )

        bench = spark.read.parquet(benchmark_dir).select("shingle")

    if (lm_artifact_dir is None) != (max_avg_nll is None):
        raise ValueError(
            "quality-gated ingestion needs BOTH lm_artifact_dir and "
            "max_avg_nll (a model without a bound filters nothing; a "
            "bound without a model has nothing to score against)"
        )
    lm_model = None
    if lm_artifact_dir is not None:
        from knowledgegraphgenerator_spark.operators.curation import (
            load_lm_artifact,
        )

        # the model is FROZEN for the stream's lifetime: persist the
        # bigram counts and derive+persist the context counts ONCE so
        # per-batch scoring joins cached frames instead of re-scanning
        # and re-aggregating the artifact every micro-batch
        lm_c2, lm_vocab = load_lm_artifact(spark, lm_artifact_dir)
        lm_c2 = lm_c2.persist()
        lm_c1 = lm_c2.groupBy("w1").agg(
            F.sum("c2").alias("c1")
        ).persist()
        lm_model = (lm_c2, lm_vocab, lm_c1)

    if store_dir is not None:
        _check_signature_store_family(spark, store_dir)

    stream = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(source_dir)
    )
    incoming = stream.where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )

    def _corpus_batches(batch_id: int) -> list[str]:
        """Prior ``batch_id=K`` partition names of the corpus — the
        SOURCE OF TRUTH for what has been admitted. Fails loudly on
        any other layout: the old ``spark.read.parquet(corpus_dir)``
        silently read arbitrary parquet, so a foreign-layout corpus
        must not silently dedup against NOTHING instead."""
        entries = list_children(spark, corpus_dir)
        foreign = [
            n for n, is_dir in entries
            if not (is_dir and n.startswith("batch_id="))
            and not n.startswith(("_", "."))
        ]
        if foreign:
            raise ValueError(
                f"corpus dir {corpus_dir} contains non-batch_id "
                f"entries {foreign[:5]}: incremental_ingest_dedup "
                "manages only batch_id=N partitions it wrote itself — "
                "bootstrap an existing corpus by placing it under "
                f"{corpus_dir}/batch_id=0"
            )
        return [
            n for n, is_dir in entries
            if is_dir
            and n.startswith("batch_id=")
            and n != f"batch_id={batch_id}"
        ]

    # one-shot restart-time store verification flag (see _index)
    _store_verified = False

    def _admit(batch_df, batch_id: int) -> None:
        if bench is not None:
            batch_df = drop_contaminated(
                batch_df,
                bench,
                threshold_permille=contamination_threshold_permille,
            )
        if lm_model is not None:
            from knowledgegraphgenerator_spark.operators.curation import (
                lm_quality_filter,
            )

            batch_df = lm_quality_filter(
                batch_df, lm_model[0], lm_model[1], max_avg_nll,
                c1=lm_model[2],
            )
        # persist=False: each micro-batch is a NEW plan, so the
        # operator's internal persists could never be deduped or
        # released — a long-lived stream would leak one cache entry
        # per batch (r6 review finding)
        batch = crawl_dedup(batch_df, "text", "doc_id", persist=False)
        prior = _corpus_batches(batch_id)
        if store_dir is not None:
            # the store is a derived CACHE of the corpus: any corpus
            # batch missing from either store frame (pre-store
            # history, partial restore, pruned bands) is backfilled
            # from corpus text once, so enabling --store mid-life or
            # repairing a damaged store never silently skips dedup
            have_sh = set(list_subdirs(spark, f"{store_dir}/shingles"))
            have_bands = set(list_subdirs(spark, f"{store_dir}/bands"))
            for d in prior:
                if d in have_sh and d in have_bands:
                    continue
                rows = spark.read.parquet(f"{corpus_dir}/{d}")
                sh_b, band_b = batch_signature_parts(
                    rows.select("doc_id", "text"), "text", "doc_id"
                )
                sh_b.write.mode("overwrite").parquet(
                    f"{store_dir}/shingles/{d}"
                )
                band_b.write.mode("overwrite").parquet(
                    f"{store_dir}/bands/{d}"
                )
            if prior:
                batch = admit_batch_against_store(
                    batch,
                    spark.read.parquet(
                        *[f"{store_dir}/shingles/{d}" for d in prior]
                    ),
                    spark.read.parquet(
                        *[f"{store_dir}/bands/{d}" for d in prior]
                    ),
                    "text", "doc_id", max_bucket=max_bucket,
                )
        elif prior:
            old = spark.read.parquet(
                *[f"{corpus_dir}/{d}" for d in prior]
            )
            batch = admit_batch(
                batch, old.select("doc_id", "text"), "text", "doc_id",
                max_bucket=max_bucket,
            )
        def _index(rows) -> None:
            """Index the admitted survivors into the retrieval store:
            create on the first batch, append after; on a mid-append
            failure run the repair then re-raise so the stream's
            automatic retry is exactly-once (see docstring)."""
            if index_tables is None:
                return
            from knowledgegraphgenerator_spark.operators.retrieval import (  # noqa: E501
                append_retrieval_tables,
                repair_retrieval_store,
                write_retrieval_tables,
            )

            from knowledgegraphgenerator_spark.operators.retrieval import (  # noqa: E501
                tokenize_whitespace,
            )
            from knowledgegraphgenerator_spark.operators.triples import (  # noqa: E501
                managed_table_location,
            )
            from knowledgegraphgenerator_spark.plans.runner import (
                hadoop_fs,
            )

            post_t, dl_t = index_tables
            toks = tokenize_whitespace(rows)
            have = [
                t for t in (post_t, dl_t)
                if spark.catalog.tableExists(t)
            ]
            if len(have) < 2:
                # CREATE path — taken for a brand-new store AND for
                # the in-process retry of a crash between the two
                # creates (overwrite makes the re-create idempotent).
                # But a table the CATALOG does not know whose
                # warehouse DIRECTORY exists is an orphaned store
                # from a previous process (in-memory catalogs die
                # with the process): overwriting it would silently
                # drop every pre-restart document from serving while
                # dedup still refuses to readmit them. Fail loudly —
                # rebuild via the `index` CLI or use a shared
                # metastore (docstring).
                for t in (post_t, dl_t):
                    if t in have:
                        continue
                    fs, loc = hadoop_fs(
                        spark, managed_table_location(spark, t)
                    )
                    if fs.exists(loc) and not have:
                        raise ValueError(
                            f"retrieval table {t!r} has warehouse "
                            "data but no catalog entry — an orphaned "
                            "store from a previous process. Streaming "
                            "--index across restarts needs a SHARED "
                            "metastore (an in-memory catalog cannot "
                            "re-adopt the directory, and an `index` "
                            "CLI rebuild dies with ITS process too); "
                            "refusing to silently fork a batch-only "
                            "store"
                        )
                write_retrieval_tables(
                    toks, post_t, dl_t, n_buckets=index_buckets
                )
                return
            nonlocal _store_verified
            if not _store_verified:
                # RESTART-time repair: a previous PROCESS may have
                # died after the postings append committed but before
                # the doclen append (the in-process except-repair
                # below never ran). The append guard filters on
                # doclen, so without this rebuild the retried batch
                # would re-append its postings and silently
                # double-count tf/df. Postings-sized, once per stream
                # process — it makes the exactly-once claim true at
                # every crash point, including death of the repairing
                # process itself.
                repair_retrieval_store(spark, post_t, dl_t)
                _store_verified = True
            try:
                append_retrieval_tables(
                    toks, post_t, dl_t, n_buckets=index_buckets
                )
                # foreachBatch writes through a CLONED session whose
                # relation-cache refresh does not reach THIS session's
                # cache — and the restart repair above read both
                # tables through this session, caching the pre-append
                # file listings. Refresh here or the post-stream reads
                # silently miss every appended file.
                for t in (post_t, dl_t):
                    spark.catalog.refreshTable(t)
            except Exception:
                repair_retrieval_store(spark, post_t, dl_t)
                raise

        if store_dir is None and index_tables is None:
            (
                batch.write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch_id={batch_id}")
            )
            return
        # survivors feed several writes (corpus, optional 2 store
        # frames, optional 2 index tables): persist once so the admit
        # join chain runs once, not per consumer
        batch = batch.persist()
        try:
            (
                batch.write.mode("overwrite")
                .parquet(f"{corpus_dir}/batch_id={batch_id}")
            )
            if store_dir is not None:
                sh, bands = batch_signature_parts(
                    batch, "text", "doc_id"
                )
                sh.write.mode("overwrite").parquet(
                    f"{store_dir}/shingles/batch_id={batch_id}"
                )
                bands.write.mode("overwrite").parquet(
                    f"{store_dir}/bands/batch_id={batch_id}"
                )
            _index(batch)
        finally:
            batch.unpersist()

    q = (
        incoming.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if lm_model is not None:
            lm_model[0].unpersist()
            lm_model[2].unpersist()


def incremental_kg_triples_auto(
    spark: SparkSession,
    source_dir: str,
    dictionary_path: str,
    stop_tokens: frozenset[str],
    target_dir: str,
    checkpoint_dir: str,
    broadcast_term_limit: int = 2_000_000,
) -> str:
    """Auto strategy for streaming enrichment (VERDICT r3 #8):
    ``incremental_kg_triples_linked`` with ``linking='auto'``. Returns
    the chosen strategy name ('broadcast' | 'blocked')."""
    return incremental_kg_triples_linked(
        spark, source_dir, dictionary_path, stop_tokens, target_dir,
        checkpoint_dir, "auto", broadcast_term_limit,
    )


def incremental_kg_triples_linked(
    spark: SparkSession,
    source_dir: str,
    dictionary_path: str,
    stop_tokens: frozenset[str],
    target_dir: str,
    checkpoint_dir: str,
    linking: str = "auto",
    broadcast_term_limit: int = 2_000_000,
) -> str:
    """Streaming enrichment against the frozen dictionary artifact at
    ``dictionary_path``, with the batch pipeline's strategy choice
    (operators/linking.py:choose_linking), made ONCE at stream start.
    'auto' probes with the same limit+1 collect, so when broadcast wins
    the probe rows ARE the dictionary and choosing costs no extra job;
    past the limit the stream runs the beyond-broadcast foreachBatch
    blocked path instead of OOMing the driver on the collect. The
    dictionary is frozen for the stream's lifetime, so one probe per
    start is exact, not a heuristic. Returns the strategy that ran
    ('broadcast' | 'blocked')."""
    from knowledgegraphgenerator_spark.operators.linking import (
        choose_linking,
    )
    from knowledgegraphgenerator_spark.operators.phrases import (
        load_dictionary_frames,
    )

    frames = load_dictionary_frames(spark, dictionary_path)
    dictionary, _ = choose_linking(
        frames, stop_tokens, linking, broadcast_term_limit
    )
    if dictionary is None:
        incremental_kg_triples_blocked(
            spark, source_dir, frames, stop_tokens,
            target_dir, checkpoint_dir,
        )
        return "blocked"
    incremental_kg_triples(
        spark, source_dir, dictionary, target_dir, checkpoint_dir
    )
    return "broadcast"


def stateful_sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
):
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (per-key user state). Emits a row per
    CLOSED session (idle gap > ``gap_seconds`` observed in-stream); the
    trailing open session stays in the state store and closes on a later
    run — exactly the semantics an AvailableNow catch-up job wants, with
    the checkpoint carrying state across runs. (ProcessingTimeTimeout is
    deliberately not used: under Trigger.AvailableNow it keeps the query
    servicing timeout batches instead of terminating.)

    This is the streaming twin of queries.q_sessionize — the batch SQL
    and the stateful operator implement the same session semantics.
    Returns the started query (memory sink 'sessions', update mode).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        epochs: list[int] = []
        for pdf in pdfs:
            epochs.extend(
                int(t.timestamp()) for t in pdf["ts"] if t is not None
            )
        closed: list[tuple[int, int, int, int]] = []
        epochs.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        for e in epochs:
            if start is None:
                start, last, n = e, e, 1
            elif e - last > gap_seconds:
                closed.append((user_id, start, last, n))
                start, last, n = e, e, 1
            else:
                last, n = e, n + 1
        if start is not None:
            state.update((start, last, n))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events"],
        )

    stream = spark.readStream.schema(schema).parquet(source_dir)
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_sessionize_tws(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    query_name: str = "sessions_tws",
):
    """Spark-4 successor-API twin of ``stateful_sessionize_stream``:
    the same gap-sessionization semantics expressed with
    ``transformWithStateInPandas`` (StatefulProcessor + ValueState,
    RocksDB state store). Differentially tested equal to the
    applyInPandasWithState formulation (tests/test_streaming_stateful).

    transformWithState requires the RocksDB state store provider; the
    config is set per-query via the session (Spark scopes the provider
    to the stream's checkpoint), so batch workloads are unaffected.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
        ]
    )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("sess", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            (user_id,) = key
            epochs: list[int] = []
            for pdf in rows:
                epochs.extend(
                    int(t.timestamp()) for t in pdf["ts"] if t is not None
                )
            epochs.sort()
            closed: list[tuple[int, int, int, int]] = []
            existing = self._state.get() if self._state.exists() else None
            if existing is not None:
                start, last, n = existing
            else:
                start, last, n = None, None, 0
            for e in epochs:
                if start is None:
                    start, last, n = e, e, 1
                elif e - last > gap_seconds:
                    closed.append((int(user_id), start, last, n))
                    start, last, n = e, e, 1
                else:
                    last, n = e, n + 1
            if start is not None:
                self._state.update((start, last, n))
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start",
                         "session_end", "n_events"],
            )

        def close(self) -> None:
            pass

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = spark.readStream.schema(schema).parquet(source_dir)
    sessions = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SessionProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    return (
        sessions.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
