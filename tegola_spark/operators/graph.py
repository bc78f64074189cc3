"""Link-graph construction + iterative PageRank over crawl domains.

A Common-Crawl-style corpus is a web graph as much as a document set:
host-level centrality (Common Crawl publishes exactly this as its
host/domain ranks) drives crawl prioritization, seed-quality weighting,
and spam demotion.  The reference tile engine has no graph operator, so
this module is one of the engine's training-data extras; the companion
iterative op is ``clusters.connected_components`` (min-label
propagation), while PageRank adds weighted propagation, a damping term,
and dangling-mass redistribution.

Determinism / oracle design
---------------------------
PageRank is usually float-iterated, which can never be replayed
bit-for-bit by a second engine (sum order is plan-dependent).  This
implementation keeps ALL mass in integer micro-units (int64, 1e6 =
rank 1.0) and floors every division, so each iteration is exact
integer arithmetic with a plan-independent result: Spark's ``div`` and
DuckDB's ``//`` agree on non-negative operands, and int64 sums are
associative.  The floor steps leak at most ``outdeg(u)`` micro-units
per node per iteration — a deliberate, engine-independent rounding
rule, not numerical noise (same idea as textstats.unigram_lm_score's
micro-nat integers).

100 TB posture
--------------
- Each iteration is ONE shuffle on the edge table: ``edges ⋈ pr`` on
  ``src`` (rank frame is node-sized — AQE broadcasts it when small,
  shuffled-hash otherwise) followed by ``groupBy(dst).sum`` with
  map-side partial aggregation.  Edge rows never leave their
  partitioning between iterations if ``edges`` is pre-partitioned by
  ``src``.
- The dangling-mass term is an O(1)-row action per iteration (one
  aggregated scalar), the same driver traffic class as the
  convergence probe in ``connected_components``.
- ``localCheckpoint()`` truncates lineage each round so the plan stays
  flat across iterations (the iterative-DataFrame trap).
- Fixed iteration count (default 5): at trillion-edge scale rank jobs
  run a budgeted number of sweeps, not to convergence; the integer
  recurrence makes every sweep reproducible and resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

SCALE = 1_000_000          # micro-units per unit of rank mass
DAMP_NUM, DAMP_DEN = 85, 100   # damping factor 0.85 as an exact rational
LINK_SALT = "links-v1"
N_SEEDS = 4                # trust seeds: the top English domains


def _md5_48(col, salt: str):
    """First 48 bits of md5(salt || value) as a non-negative int64 —
    the repo's portable hash recipe (operators/sampling.py:40)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), col.cast("string")).cast("binary")),
            1, 12),
        16, 10).cast("long")


def link_graph(docs: DataFrame, n_docs: int) -> DataFrame:
    """Derive the deterministic domain link graph from the documents
    corpus: every document links from its own domain
    (``source || '.example.com'``, the same host the corpus's page
    urls live under, sources/corpus.py:118-121) to the domain of a
    target document picked by a salted md5 of its id.  No RNG, no
    external data — DuckDB replays the derivation exactly.

    Returns weighted edges ``(src, dst, w)`` with self-loops removed
    (a domain citing itself is not a ranking signal).  The target
    lookup is an equi-join into the corpus — the same shape as real
    link resolution (href -> page row).
    """
    d = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"))
    tgt = (_md5_48(F.col("doc_id"), LINK_SALT) % F.lit(n_docs)).alias("tgt_id")
    src_side = d.select(F.col("domain").alias("src"), tgt)
    dst_side = d.select(F.col("doc_id").alias("tgt_id"),
                        F.col("domain").alias("dst"))
    return (src_side.join(dst_side, "tgt_id")
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst").agg(F.count("*").alias("w")))


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 5,
             seeds: DataFrame | None = None) -> DataFrame:
    """Integer-exact PageRank, optionally personalized (TrustRank).

    ``nodes``: one row per node, column ``domain``.  ``edges``:
    ``(src, dst, w)`` weighted directed edges (w = parallel-edge
    count).  Returns ``(domain, pr_micro)`` after ``iters`` sweeps of

        pr'(v) = base(v)
                 + (85 * (inflow(v) + dangling_share(v))) div 100
        inflow(v) = Σ_{(u,v,w)} w * (pr(u) div outdeg(u))

    where outdeg(u) = Σ w over u's out-edges and the dangling mass is
    the summed rank of nodes with no out-edges.

    With ``seeds=None`` (classic PageRank) the teleport is uniform:
    base(v) = (15 * SCALE) div 100 for every node, dangling mass
    shared by all N nodes.  With a ``seeds`` frame (column ``domain``)
    this is TrustRank (Gyöngyi et al. 2004) — the biased teleport that
    propagates trust/spam labels along links: all teleport AND
    dangling mass land on the seed set only,
    base(seed) = ((15 * N * SCALE) div 100) div |S|, base 0 elsewhere.

    Every operation is int64; see module docstring for why this is
    the replayable formulation.
    """
    outdeg = edges.groupBy(F.col("src").alias("domain")) \
                  .agg(F.sum("w").alias("od"))
    n_nodes = nodes.count()
    if seeds is None:
        marked = nodes.select("domain", F.lit(True).alias("_is_seed"))
        base_expr = F.lit((DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN)
        n_tel = n_nodes
    else:
        seed_set = seeds.select("domain").distinct()
        n_tel = seed_set.count()
        if n_tel == 0:
            raise ValueError("TrustRank needs a non-empty seed set")
        marked = (nodes.join(seed_set.withColumn("_is_seed", F.lit(True)),
                             "domain", "left")
                  .select("domain", F.coalesce("_is_seed", F.lit(False))
                          .alias("_is_seed")))
        per_seed = ((DAMP_DEN - DAMP_NUM) * n_nodes * SCALE
                    // DAMP_DEN) // n_tel
        base_expr = F.when(F.col("_is_seed"), F.lit(per_seed)) \
                     .otherwise(F.lit(0))
    marked = marked.localCheckpoint()

    # the dangling SET is static (nodes minus edge sources): detect it
    # once so dangling-free graphs skip the per-sweep mass scalar
    # entirely (one fewer action per iteration)
    dang_nodes = marked.select("domain") \
                       .join(outdeg, "domain", "left_anti").localCheckpoint()
    has_dangling = dang_nodes.limit(1).count() > 0

    pr = marked.select("domain", F.lit(SCALE).cast("long").alias("pr")) \
               .localCheckpoint()
    for _ in range(iters):
        contrib = (edges
                   .join(pr.withColumnRenamed("domain", "src"), "src")
                   .join(outdeg.withColumnRenamed("domain", "src")
                               .withColumnRenamed("od", "src_od"), "src")
                   .select(F.col("dst").alias("domain"),
                           (F.col("w") * F.expr("pr div src_od"))
                           .alias("c"))
                   .groupBy("domain").agg(F.sum("c").alias("inflow")))
        # dangling mass: folded into the sweep as a broadcast 1-row
        # aggregate instead of a separate collect() action (round-6,
        # closing the round-5 review note) — the scalar materializes
        # inside the same job that checkpoints the new pr frame, so a
        # sweep is ONE action, not two; still skipped entirely when the
        # static dangling set is empty
        nxt = marked.join(contrib, "domain", "left")
        if has_dangling:
            share_df = (pr.join(dang_nodes, "domain", "left_semi")
                        .agg(F.expr(f"coalesce(sum(pr), 0L) div {n_tel}")
                             .alias("_share")))
            nxt = nxt.crossJoin(F.broadcast(share_df))
            share_col = "_share"
        else:
            share_col = "0L"
        pr = (nxt.select(
                  "domain",
                  (base_expr
                   + F.expr(f"({DAMP_NUM} * (coalesce(inflow, 0) + "
                            f"if(_is_seed, {share_col}, 0L))) div {DAMP_DEN}"))
                  .cast("long").alias("pr"))
              .localCheckpoint())
    return pr.select("domain", F.col("pr").alias("pr_micro"))


def domain_pagerank(spark: SparkSession, docs: DataFrame,
                    iters: int = 5) -> DataFrame:
    """End-to-end domain rank over the corpus link graph: derive
    edges, run ``iters`` integer PageRank sweeps, and attach each
    domain's total out-link weight.  Link targets are picked modulo
    the corpus's own document count.  Output
    ``(domain, pr_micro, out_weight)``, one row per domain."""
    edges = link_graph(docs, docs.count()).localCheckpoint()
    nodes = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain")) \
        .distinct()
    ranks = pagerank(nodes, edges, iters=iters)
    outdeg = edges.groupBy(F.col("src").alias("domain")) \
                  .agg(F.sum("w").alias("out_weight"))
    return (ranks.join(outdeg, "domain", "left")
            .select("domain", "pr_micro",
                    F.coalesce(F.col("out_weight"), F.lit(0))
                    .cast("long").alias("out_weight")))


def top_en_seeds(docs: DataFrame) -> DataFrame:
    """Deterministic trust-seed rule for the corpus: the ``N_SEEDS`` domains
    with the most English documents (ties broken by name) — always
    non-empty at any corpus scale, unlike a majority-share cutoff
    (which selects nothing once per-domain language mixes regress to
    the corpus mean).  Any replayable predicate works — real
    deployments use a labeled seed list.  The ranked table is
    domain-sized, so the single window is fine (same caveat + swap
    point as sampling.proportional_quota)."""
    from pyspark.sql import Window

    en = (docs.groupBy("source")
          .agg(F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
               .alias("_en")))
    w = Window.orderBy(F.col("_en").desc(), F.col("source"))
    return (en.withColumn("_rnk", F.row_number().over(w))
            .where(F.col("_rnk") <= N_SEEDS)
            .select(F.concat(F.col("source"), F.lit(".example.com"))
                    .alias("domain")))


def domain_trustrank(spark: SparkSession, docs: DataFrame,
                     iters: int = 5) -> DataFrame:
    """TrustRank over the corpus link graph: personalized PageRank
    whose teleport (and dangling mass) lands only on the trusted seed
    domains, so trust decays with link distance from the seed set —
    the web-spam demotion / quality propagation operator (Gyöngyi et
    al. 2004).  The link graph is ``domain_pagerank``'s.  Output
    ``(domain, tr_micro, is_seed)``."""
    edges = link_graph(docs, docs.count()).localCheckpoint()
    nodes = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain")) \
        .distinct()
    seeds = top_en_seeds(docs)
    ranks = pagerank(nodes, edges, iters=iters, seeds=seeds)
    return (ranks.join(seeds.withColumn("_s", F.lit(True)), "domain", "left")
            .select("domain", F.col("pr_micro").alias("tr_micro"),
                    F.coalesce("_s", F.lit(False)).alias("is_seed")))
