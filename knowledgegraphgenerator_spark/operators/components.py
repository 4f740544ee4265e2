"""Connected components over an edge DataFrame (canonicalization core).

Large-star / small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14 — public algorithm), the
standard shuffle-bounded way to run CC on DataFrames without GraphX:

  large-star: every node points its larger neighbors at its current
              minimum neighbor (or itself);
  small-star: every node points its smaller-or-equal neighbors at the
              minimum.

Each round is two aggregations; convergence when the edge multiset stops
changing (checked via a cheap count + checksum). The driver loop calls
``localCheckpoint`` every round to cut lineage — THE known failure mode
of iterative DataFrame jobs at scale (SURVEY.md §7.4 item 6).

Used by term canonicalization: MinHash-LSH near-dup pairs (operators/
dedup.py) → CC labels → canonical term id = component minimum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return edges.unionByName(rev).where("src != dst").distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to min(neighborhood ∪ self)."""
    nbrs = _symmetrize(edges)
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where("src != dst")
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's <=-neighborhood, connect all to the minimum."""
    canon = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).distinct()
    mins = canon.groupBy("src").agg(F.min("dst").alias("m"))
    with_min = canon.join(mins, "src")
    a = with_min.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    b = with_min.select(F.col("src"), F.col("m").alias("dst"))
    return a.unionByName(b).where("src != dst").distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # pmod keeps the per-row term < 2^31 so the ANSI-mode sum
        # cannot overflow (n * 2^31 << 2^63)
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2147483647))),
            F.lit(0),
        ).alias("h"),
    ).first()
    return row["n"], row["h"]


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id_a, id_b) undirected pairs -> (id, component) labels, where
    component = min id in the component. Nodes appearing in no surviving
    edge map to themselves (callers union isolated ids as needed)."""
    edges = pairs.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).where("src != dst").distinct().localCheckpoint()

    prev = _checksum(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur

    labels = edges.select(
        F.col("src").alias("id"), F.col("dst").alias("component")
    ).groupBy("id").agg(F.min("component").alias("component"))
    roots = (
        edges.select(F.col("dst").alias("id"))
        .distinct()
        .join(labels, "id", "anti")
        .select("id", F.col("id").alias("component"))
    )
    return labels.unionByName(roots)


def keep_best_per_cluster(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Cluster-representative selection: given near-dup cluster labels
    (``connected_components`` output) and a per-document quality score,
    keep the HIGHEST-scoring member of each cluster, ties broken by the
    smallest id — the RefinedWeb/FineWeb retention policy (the survivor
    of fuzzy dedup is the best copy, not the first-seen copy; contrast
    ``exact_dedup``'s min-id keep, synonym_generator.py:33-39).

    Output: (component, kept_id, best_score, n_members), one row per
    cluster. ``n_members`` counts ALL labeled members (a LEFT join to
    scores — an unscored member still belongs to its cluster); the
    argmax runs over SCORED members only, so ``kept_id``/``best_score``
    are NULL for a cluster none of whose members has a score.

    Scale shape: one equi-join of labels to scores on the id (both
    sides are id-keyed; co-partitions under AQE) and ONE combinable
    max-over-struct aggregate on the component key — map-side partial
    max collapses a pathological 10^6-member clone cluster to one row
    per mapper before the shuffle, where a row_number window would
    serialize it onto a single task. The tie-break uses the
    bitwise-NOT ordering ``-1 - id`` (ADVICE r5): a total,
    overflow-free reversal of int64 order, so negative ids (e.g.
    xxhash64-derived) break ties correctly — the old ``-id`` inverted
    them and overflowed on Long.MIN."""
    m = labels.join(scores, id_col, "left")
    w = F.when(
        F.col(score_col).isNotNull(),
        F.struct(
            F.col(score_col).alias("s"),
            (F.lit(-1).cast("long") - F.col(id_col)).alias("neg_id"),
        ),
    )
    return (
        m.groupBy(comp_col)
        .agg(
            F.max(w).alias("w"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            comp_col,
            (F.lit(-1).cast("long") - F.col("w.neg_id")).alias("kept_id"),
            F.col("w.s").alias("best_score"),
            "n_members",
        )
    )


def ancestor_closure(
    edges: DataFrame, max_depth: int = 25, assume_distinct: bool = False
) -> DataFrame:
    """Transitive ancestor closure of a child→parent edge set — the
    graph-scale generalization of the reference's in-memory tree walk
    (`/root/reference/analyzer/ontology_analyzer.py:175-188`, which
    follows anytree parent pointers per node).

    ``edges``: (subj, obj) rows, child → parent. Returns
    (descendant, ancestor, depth) with depth = MINIMUM hop count —
    frontier BFS discovers each pair exactly once, at its shortest
    distance, because every round's frontier is anti-joined against the
    accumulated closure before expanding.

    Scale shape (same discipline as kg_pagerank / connected_components):
      * one equi-join on the subject key per round — on tables bucketed
        by subj (write_triples_bucketed_table) that join plans with
        zero Exchange on the bucketed side;
      * one anti-join on the (descendant, ancestor) pair key per round,
        bounded by the closure size (paths in a hierarchy, not pairs of
        nodes²: the closure of a forest has |V|·avg_depth rows);
      * rounds = graph diameter (hierarchy depth, single digits for KG
        term trees), each round ``localCheckpoint``-ed so lineage stays
        flat at 10^12-node scale;
      * ``max_depth`` caps pathological cycles — the DuckDB oracle
        carries the identical cap, so both engines agree even on
        non-DAG input;
      * ``assume_distinct=True`` skips the defensive edge
        deduplication. Set it when serving off a stored distinct edge
        set — e.g. the bucketed triple table — because the ``distinct``
        inserts an Exchange that re-partitions the edges and defeats
        the bucket layout the per-round hop join would otherwise use
        (pinned in test_plans).
    """
    nt = edges.select(
        F.col("subj").alias("descendant"), F.col("obj").alias("ancestor")
    )
    if not assume_distinct:
        nt = nt.distinct()
    closure = nt.withColumn(
        "depth", F.lit(1).cast("long")
    ).localCheckpoint()
    frontier = closure
    hop = nt.select(
        F.col("descendant").alias("mid"), F.col("ancestor").alias("nxt")
    )
    depth = 1
    while depth < max_depth:
        step = (
            frontier.join(hop, frontier["ancestor"] == hop["mid"])
            .select("descendant", F.col("nxt").alias("ancestor"))
            .distinct()
        )
        new = (
            step.join(
                closure.select("descendant", "ancestor"),
                ["descendant", "ancestor"],
                "left_anti",
            )
            .withColumn("depth", F.lit(depth + 1).cast("long"))
            .localCheckpoint()
        )
        if new.isEmpty():
            break
        closure = closure.unionByName(new).localCheckpoint()
        frontier = new
        depth += 1
    return closure


def integer_pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    total_mass: int = 1_000_000,
    teleport_mass: int = 150_000,
    damping_pct: int = 85,
    assume_distinct: bool = False,
    persist: bool = True,
) -> DataFrame:
    """Fixed-k integer power-iteration PageRank over a (src, dst) edge
    set — entity importance for KG consumers (the graph-scale
    generalization of ranking reference ontology nodes by degree).

    All arithmetic is INTEGER (micro-units of ``total_mass``; dangling
    mass dropped): both engines use only nonnegative integer division,
    so the DuckDB oracle (the same ``n_iters`` iterations unrolled as
    CTEs, oracles_kg.kg_pagerank_oracle_sql) matches bit-for-bit — no
    float-summation-order hazard.

    Scale shape (same discipline as ancestor_closure):
      * each iteration is one equi-join on src + one aggregation on
        dst; the iterate is ``localCheckpoint``-ed so lineage stays
        flat at 10^12-node scale;
      * ``assume_distinct=True`` + ``persist=False`` is the SERVE
        configuration for edges read from the ``bucketBy(subj)``
        catalog table (write_triples_bucketed_table): the defensive
        ``distinct`` would insert an Exchange that re-partitions the
        edges and defeats the bucket layout, and a persist would hide
        the bucketed scan behind an InMemoryRelation. On the bucketed
        table the per-iteration contrib plan carries exactly TWO
        Exchanges — the rank iterate and the final dst aggregation;
        the edge scan and the out-degree aggregation ride the bucket
        layout shuffle-free (pinned in test_plans).
    """
    spark = edges.sparkSession
    nt = edges.select("src", "dst")
    if not assume_distinct:
        nt = nt.distinct()
    if persist:
        nt = nt.persist()
    nodes = (
        nt.select(F.col("src").alias("entity"))
        .union(nt.select(F.col("dst").alias("entity")))
        .distinct()
    )
    if persist:
        nodes = nodes.persist()
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame([], "entity string, pr long")
    outdeg = nt.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = nodes.withColumn("pr", F.lit(total_mass // n).cast("long"))
    tele = teleport_mass // n
    for _ in range(n_iters):
        contrib = (
            nt.join(pr, nt["src"] == pr["entity"])
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("entity"),
                F.expr("pr div outdeg").alias("c"),
            )
            .groupBy("entity")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = (
            nodes.join(contrib, "entity", "left")
            .select(
                "entity",
                (
                    F.lit(tele)
                    + F.expr(
                        f"{damping_pct} * coalesce(contrib, 0L) div 100"
                    )
                ).cast("long").alias("pr"),
            )
            .localCheckpoint()
        )
    if persist:
        # the iterates are checkpoint-backed (and the n_iters=0 seed
        # recomputes from source) — drop the edge/node caches so
        # repeated calls in one session (full gate, bench repeats)
        # don't accumulate dead cached partitions
        nt.unpersist()
        nodes.unpersist()
    return pr


def integer_hits(
    edges: DataFrame,
    n_iters: int = 2,
    total_mass: int = 1_000_000,
    assume_distinct: bool = False,
    persist: bool = True,
) -> DataFrame:
    """Fixed-k integer HITS (Kleinberg hubs & authorities) over a
    (src, dst) edge set — the second classic web-graph authority score
    next to integer_pagerank, for crawl prioritization / host quality.

    Variant pinned for cross-engine bit-exactness (mirrored by the
    unrolled-CTE DuckDB oracle in queries.py):
      * authorities seed uniform at ``total_mass // n``;
      * each iteration recomputes hubs from authorities over OUT-edges,
        L1-normalizes to integer micro-units (``raw * total_mass //
        sum(raw)``, nonnegative ``div`` only), then authorities from
        the normalized hubs over IN-edges, normalized the same way —
        so every value both engines ever hold is a nonnegative int64.
    Overflow bound: normalized scores sum to <= total_mass, so a raw
    sum is < total_mass^2 = 10^12 and the normalization product is
    < total_mass^2 * total_mass = 10^18 < 2^63 ONLY when the per-node
    raw score stays under ~9.2e12; with mass 10^6 that holds for any
    graph (raw[v] <= sum of a normalized vector <= 10^6, times 10^6 =
    10^12). ANSI mode would throw loudly on violation, not corrupt.

    Scale shape = integer_pagerank's: per iteration, one equi-join per
    direction + one combinable aggregation; iterates are
    ``localCheckpoint``-ed to keep lineage flat; ``assume_distinct`` /
    ``persist=False`` is the bucketed-table serve configuration
    (operators/triples.py:133).
    """
    spark = edges.sparkSession
    nt = edges.select("src", "dst")
    if not assume_distinct:
        nt = nt.distinct()
    if persist:
        nt = nt.persist()
    nodes = (
        nt.select(F.col("src").alias("entity"))
        .union(nt.select(F.col("dst").alias("entity")))
        .distinct()
    )
    if persist:
        nodes = nodes.persist()
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame(
            [], "entity string, hub long, auth long"
        )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        """nodes-complete integer L1 normalization of (entity, raw).

        The filled vector is localCheckpoint-ed BEFORE fan-out so the
        edge join + aggregation underneath runs exactly once per
        half-step (the total-sum branch and the output branch both
        read the checkpoint, which also keeps lineage flat across
        iterations); the L1 total rides a broadcast crossJoin — no
        driver collect."""
        filled = (
            nodes.join(raw, "entity", "left")
            .select(
                "entity",
                F.coalesce(F.col("raw"), F.lit(0))
                .cast("long")
                .alias("raw"),
            )
            .localCheckpoint()
        )
        total = filled.agg(F.sum("raw").alias("t"))
        return filled.crossJoin(F.broadcast(total)).select(
            "entity",
            F.expr(
                f"CASE WHEN t = 0 THEN 0L"
                f" ELSE raw * {total_mass}L div t END"
            ).cast("long").alias(col),
        )

    # seeds: both vectors uniform, so n_iters=0 returns the seed state
    # (the integer_pagerank degenerate-parameter contract)
    auth = nodes.withColumn(
        "auth", F.lit(total_mass // n).cast("long")
    )
    hub = nodes.withColumn(
        "hub", F.lit(total_mass // n).cast("long")
    )
    for _ in range(n_iters):
        h_raw = (
            nt.join(auth, nt["dst"] == auth["entity"])
            .groupBy(nt["src"].alias("entity"))
            .agg(F.sum("auth").alias("raw"))
        )
        hub = _normalize(h_raw, "hub")
        a_raw = (
            nt.join(hub, nt["src"] == hub["entity"])
            .groupBy(nt["dst"].alias("entity"))
            .agg(F.sum("hub").alias("raw"))
        )
        auth = _normalize(a_raw, "auth")
    if persist:
        # same cache hygiene as integer_pagerank: iterates are
        # checkpoint-backed, seeds recompute — release the caches
        nt.unpersist()
        nodes.unpersist()
    return (
        hub.join(auth, "entity")
        .select("entity", "hub", "auth")
    )
