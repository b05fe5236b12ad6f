"""Distributed connected components over pair graphs (near-dup resolution).

A dedup stage's pair generators (MinHash-LSH, SimHash banding, exact
Jaccard — qcflow/parity/dedup.py) emit edges; the corpus-level output a
training-data pipeline needs is the SURVIVOR SET: one representative per
connected component of the pair graph. This module resolves components
with iterated hash-min label propagation — every step is a hash join +
hash aggregate on the (id, comp) key, so the whole algorithm is shuffles
on 8-byte keys and never materializes anything driver-side except the
per-iteration convergence scalar.

Scale notes (10^9-node pair graphs):
- Convergence is O(graph diameter) iterations. Near-dup components are
  quasi-cliques (every member pairs with most others), so diameters are
  tiny (2-4); ``max_iter`` is a safety cap, not the expected cost.
- Each iteration localCheckpoints the label frame: truncating lineage is
  mandatory in an iterative plan or the DAG (and Catalyst analysis time)
  grows linearly with iterations. On a cluster use ``checkpoint()`` with
  a durable dir instead.
- The per-iteration driver round-trip is ONE aggregated long (count of
  changed labels), observed by the checkpointing job itself
  (``DataFrame.observe``) — one job per round, loop control, not data
  movement.
- For high-diameter graphs (long chains of serially-edited near-dup
  revisions) hash-min's O(diameter) rounds are the wrong tool:
  ``connected_components`` auto-falls-back to the large-star/small-star
  alternation (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), which converges in O(log^2 n) rounds regardless of
  diameter. Hash-min stays the default first attempt because dedup
  graphs are usually quasi-cliques (diameter 2-4) and its per-round cost
  is one join instead of two star passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve undirected ``edges`` into components.

    Returns (id, comp) for every vertex that appears in an edge, where
    ``comp`` is the minimum vertex id reachable from ``id`` (the
    deterministic component representative). Vertices with no edges are
    singletons by definition and are not emitted — callers union them
    back if they need full coverage (see ``survivors``).
    """
    sym = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # the adjacency list is reused every iteration — pin it once
    sym = sym.localCheckpoint(eager=True)

    # the first hash-min step is the initial labelling: comp(v) = the min
    # of v and its neighbours, so a clique is converged after it and the
    # loop's first round only confirms that
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min(F.least("src", "dst")).alias("comp"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # hash-min step: comp'(v) = min(comp(v), min_{u->v} comp(u)); the
        # previous label rides through the same aggregate so the
        # convergence count is observed by the checkpointing job itself
        prop = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), "comp", F.lit(None).cast("long").alias("old")
        )
        obs = Observation()
        new = (
            labels.withColumn("old", F.col("comp"))
            .unionByName(prop)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("old").alias("old"))
            .observe(obs, F.count_if(F.col("comp") != F.col("old")).alias("changed"))
            .select("id", "comp")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"]
        labels.unpersist()  # release the superseded iteration's blocks
        labels = new
        if changed == 0:
            break
    else:
        # diameter > max_iter (e.g. a long chain of serially-edited
        # near-dup revisions): silent unconverged labels would split true
        # components into several survivors. Fall back to the
        # O(log^2 n)-round star alternation, whose convergence does not
        # depend on diameter (SoCC'14).
        import warnings

        warnings.warn(
            f"hash-min did not converge in {max_iter} iterations "
            "(graph diameter too large); falling back to "
            "large-star/small-star",
            stacklevel=2,
        )
        labels.unpersist()
        sym.unpersist()
        return connected_components_stars(edges, src=src, dst=dst)
    sym.unpersist()
    return labels


def _star_round_stats(e: DataFrame) -> tuple[int, int]:
    """Order-insensitive fingerprint of an edge set (count + hash-XOR —
    XOR never overflows under ANSI mode and the set is distinct, so
    cancellation cannot collide): two scalars per round is the only
    driver traffic."""
    r = e.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ).collect()[0]
    return int(r["n"] or 0), int(r["h"] or 0)


def connected_components_stars(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 §3): converges in O(log^2 n) rounds independent of graph
    diameter — the high-diameter fallback for ``connected_components``.

    Each operation is one groupBy (per-node neighborhood minimum) plus
    one hash join — shuffles on 8-byte keys only, no payload:
    - large-star(u): every strictly-larger neighbor of u re-points to
      m(u) = min(neighborhood(u) + {u});
    - small-star(u): on edges oriented large->small, every neighbor and
      u itself re-point to m(u).
    The fixpoint is a star forest: every node's single out-edge targets
    its component minimum. Same output contract as
    ``connected_components``: (id, comp) for every vertex with an edge.
    """
    raw = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    # vertex set BEFORE dropping self-loops: a vertex whose only edge is
    # a self-loop must still get a singleton label (the hash-min path
    # keeps self-loops in its symmetrized adjacency and labels it; this
    # path must honor the same "(id, comp) for every vertex with an
    # edge" contract)
    vertices = (
        raw.select(F.col("src").alias("id"))
        .unionByName(raw.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = raw.filter(F.col("src") != F.col("dst"))
    e = e.localCheckpoint(eager=True)
    prev = None
    for _ in range(max_rounds):
        # large-star on the symmetrized adjacency
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        mins = both.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        e2 = (
            both.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on edges oriented large -> small
        oriented = e2.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()
        mins2 = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        e3 = (
            oriented.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins2.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _star_round_stats(e3)
        e.unpersist()
        e = e3
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_stars did not converge within "
            f"{max_rounds} rounds"
        )
    # star forest -> labels: non-roots point at their component min;
    # roots (appear only as dst) label themselves
    non_roots = e.select(F.col("src").alias("id"), F.col("dst").alias("comp"))
    roots = e.select(F.col("dst").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    labels = non_roots.unionByName(roots).groupBy("id").agg(
        F.min("comp").alias("comp")
    )
    # vertices that vanished from the star forest (self-loop-only, or a
    # whole-component collapse leaving no edges) are singletons
    singletons = vertices.join(labels, "id", "left_anti").withColumn(
        "comp", F.col("id")
    )
    return labels.unionByName(singletons).localCheckpoint(eager=True)


def resolve_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Pair graph -> per-member cluster assignment.

    Returns (doc_id, cluster_rep, cluster_size) for every document that
    participates in at least one near-dup pair; ``cluster_rep`` is the
    min doc_id of the component (the survivor), ``cluster_size`` its
    member count.
    """
    cc = connected_components(pairs, src=id_a, dst=id_b)
    sizes = cc.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_rep"),
        "cluster_size",
    )


def survivors(corpus_ids: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The deduped corpus: drop every clustered document except its
    component representative; documents in no pair survive untouched.

    ``corpus_ids`` must have column ``id_col``. Returns the same column.
    """
    clustered = resolve_clusters(pairs)
    losers = clustered.filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
    return corpus_ids.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
