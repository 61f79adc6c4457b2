"""Iterative graph operators for dedup post-processing: near-duplicate
PAIRS (from ``dedup.ngram_jaccard_pairs`` / ``minhash_lsh_pairs``) only
say "a ~ b"; producing one representative per duplicate GROUP needs the
transitive closure — connected components.

Implementation: two-mode, sized to the graph.

- Distributed (the 100 TB path): minimum-label propagation. Every node
  starts labeled with its own id; each round a node takes the min label
  among itself and its neighbors; fixpoint = every node carries the min
  id of its component. Rounds needed = graph diameter, and near-dup
  clusters are shallow (a handful of hops), so convergence is fast.
  Each round is ONE shuffle (join on dst + groupBy src) over the edge
  list — the textbook iterative-Spark shape. Label state is
  localCheckpoint'd per round to truncate lineage (swap for
  ``persist(DISK_ONLY)``/checkpoint on a real cluster). The driver sees
  only a 1-row convergence probe per round, never the data. For
  web-scale graphs with deep diameters, swap the propagation loop for
  the large-star/small-star algorithm (Kiveris et al., "Connected
  Components in MapReduce and Beyond") — same Spark primitives, O(log²)
  rounds; the per-round plan here is deliberately identical to that
  paper's building block.

- Local tail solve: when the (deduplicated) edge list fits comfortably
  on the driver, iterating Spark jobs is pure scheduling overhead — a
  near-dup pair graph of a few thousand edges costs 3-6 s of empty-task
  rounds for microseconds of actual work. Below ``local_threshold``
  edges the operator collects ONCE and runs union-find (O(E·α)), then
  ships (node, component) back as an Arrow table. This is the same move the
  MapReduce-CC literature makes ("finish the contracted graph locally");
  the threshold bounds driver memory explicitly (2M edges ≈ 32 MB of
  longs). Set ``local_threshold=0`` to force the distributed path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _local_components(edge_rows: list[tuple]) -> list[tuple]:
    """Union-find over a collected edge list → (node, min-id component).
    Path-halving + union-by-lower-root keeps the min id at the root, so
    labels match the distributed fixpoint exactly.  Ids are any
    totally-ordered hashables (long node ids, or string pkeys — Python
    string comparison agrees with Spark/DuckDB binary order on the
    ASCII keys the dedup family uses)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # lower id becomes the root → root IS the component min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return [(n, find(n)) for n in parent]


def _both_directions(e: DataFrame) -> DataFrame:
    """(src,dst) ∪ (dst,src) in ONE pass over ``e``'s lineage.

    A self-union (``e.unionByName(e.swap)``) reads identically but
    executes the whole upstream subtree once PER BRANCH — Spark does no
    cross-branch common-subexpression elimination, so when ``e`` is an
    expensive pair computation (q61: the full posting-join Jaccard
    kernel) the union doubles its cost in every action.  Exploding a
    2-element array of structs emits the exact same row multiset from a
    single evaluation (r11 A/B: q61 executor CPU roughly halved)."""
    return e.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _star_components(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log²) rounds
    regardless of diameter, the web-scale path when min-label
    propagation's diameter-many rounds would dominate.

    ``edges`` arrives symmetrized (both directions present). Each round:

    - large-star: per node u with m = min({u} ∪ Γ(u)), rewire every
      LARGER neighbor v > u to m — long chains fold toward minima.
    - small-star: rewire every neighbor v ≤ u (and u itself) to m —
      flattens the remainder into min-rooted stars.

    Both phases only ever connect a node to a smaller node of its own
    component, so components never merge or split and the fixpoint is
    exactly the min-id star forest the other two modes produce. One
    groupBy + one join per phase; fixpoint = the canonical edge set is
    unchanged over a full round (order-independent count + hash-sum
    probe, two scalars to the driver — same trick as the label-sum
    probe below).
    """

    def _sym(e: DataFrame) -> DataFrame:
        return _both_directions(e).distinct()

    def _mins(both: DataFrame) -> DataFrame:
        return (
            both.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least("_mn", F.col("src")).alias("m"))
        )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    both = edges.localCheckpoint(eager=False)
    prev = _checksum(both)
    for _ in range(max_iter):
        m = _mins(both)
        large = (
            both.filter(F.col("dst") > F.col("src"))
            .join(m, on="src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        both = _sym(large.filter(F.col("src") != F.col("dst")))
        m = _mins(both)
        small = (
            both.filter(F.col("dst") <= F.col("src"))
            .join(m, on="src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(m.select("src", F.col("m").alias("dst")))
        )
        both = _sym(small.filter(F.col("src") != F.col("dst"))).localCheckpoint(
            eager=False
        )
        cur = _checksum(both)
        if cur == prev:
            # min-rooted stars: every edge (v, c) labels v with center c;
            # centers label themselves
            leaves = both.filter(F.col("dst") < F.col("src")).select(
                F.col("src").alias("node"), F.col("dst").alias("component")
            )
            centers = leaves.select(F.col("component").alias("node")).distinct()
            return leaves.unionByName(
                centers.withColumn("component", F.col("node"))
            )
        prev = cur
    raise RuntimeError(
        f"star-mode connected_components did not converge in {max_iter} "
        "rounds — raise max_iter before trusting the labels"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
    mode: str = "auto",
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the minimum node id of its connected component —
    deterministic, so results are oracle-checkable, and identical from
    every execution mode (pinned in tests).

    ``mode="auto"`` (default) picks the local tail solve under
    ``local_threshold`` edges and min-label propagation above it —
    right for near-dup clusters, whose diameter is a handful of hops.
    ``mode="star"`` forces the alternating large-star/small-star
    algorithm (:func:`_star_components`): O(log²) rounds independent of
    diameter, for deep chain-shaped graphs where propagation would need
    diameter-many shuffles. ``mode="propagation"`` forces the label
    loop (testing/diagnostics).

    Node ids may be NUMERIC (cast to long) or STRING (r11): string
    keys — e.g. the paragraph family's fixed-width pkeys — flow
    straight through min-label propagation, so a caller never needs a
    dense-id ``row_number`` remap (an UNPARTITIONED window: every node
    through one task — the q259 scale seam this removed).  All three
    modes use only order-comparisons and MIN, which Spark, DuckDB and
    Python agree on for ASCII strings; "min id" reads as
    lexicographically-least for string keys.

    Raises if the distributed iteration hasn't converged after
    ``max_iter`` rounds (a correctness guard: an unconverged labeling
    silently splits components).
    """
    from pyspark.sql import types as T

    numeric = isinstance(pairs.schema[id_a].dataType, T.NumericType)
    id_type = "long" if numeric else "string"
    fwd = pairs.select(
        F.col(id_a).cast(id_type).alias("src"),
        F.col(id_b).cast(id_type).alias("dst"),
    )
    # one-pass symmetrization: a self-union here would run the whole
    # ``pairs`` lineage (for q61, the posting-join Jaccard kernel)
    # twice per action — see _both_directions
    edges = _both_directions(fwd).distinct().localCheckpoint(eager=False)
    if mode == "star":
        return _star_components(edges, max_iter)
    if mode not in ("auto", "propagation"):
        raise ValueError(f"unknown connected-components mode: {mode!r}")
    # one count off the materialized checkpoint decides the mode; it is
    # not wasted on the distributed path (it also primes the checkpoint
    # every round reuses)
    n_edges = edges.count()
    spark = edges.sparkSession

    if mode == "auto" and n_edges <= local_threshold:
        # both (a,b) and (b,a) are present; union-find needs each edge once
        rows = edges.filter(F.col("src") < F.col("dst")).collect()
        comp = _local_components([(r["src"], r["dst"]) for r in rows])
        # ship the tail as an Arrow table: the JVM reads it straight
        # into a relation, with no Python-worker stage per call
        pa_type = pa.int64() if numeric else pa.string()
        nodes, roots = zip(*comp) if comp else ((), ())
        return spark.createDataFrame(
            pa.table(
                {
                    "node": pa.array(nodes, pa_type),
                    "component": pa.array(roots, pa_type),
                }
            )
        )

    labels = edges.select("src").distinct().withColumn("component", F.col("src"))
    # convergence probe: each node's PREVIOUS label rides the same
    # groupBy as one extra MIN column (neighbor rows contribute NULL,
    # the node's own row its old label — MIN ignores NULLs and each
    # node has exactly one own row), so "did any label change" is one
    # scan of the checkpointed node-sized frame with a LIMIT-1
    # short-circuit — no extra shuffle per round, and type-agnostic
    # (the earlier decimal label-sum probe required numeric ids).
    for _ in range(max_iter):
        # neighbor labels: edge (src,dst) contributes dst's current label
        # to src; union with own label, keep the min per node
        nbr = (
            edges.join(
                labels.select(
                    F.col("src").alias("dst"), F.col("component")
                ),
                on="dst",
            )
            .select("src", "component")
            .withColumn("_prev", F.lit(None).cast(id_type))
        )
        labels = (
            nbr.unionByName(labels.withColumn("_prev", F.col("component")))
            .groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.min("_prev").alias("_prev"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            labels.filter(F.col("component") != F.col("_prev"))
            .limit(1)
            .count()
        )
        labels = labels.drop("_prev")
        if changed == 0:
            return labels.select(
                F.col("src").alias("node"), F.col("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "raise max_iter (diameter exceeds it) before trusting the labels"
    )


def pagerank(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-4,
) -> DataFrame:
    """Power-iteration PageRank over an UNDIRECTED edge list ``(id_a,
    id_b)`` — the centrality signal corpus curation uses to pick
    authoritative cluster representatives (and, with a host-link
    graph, the Common-Crawl-style domain-quality prior).

    Spark shape: ranks and degrees are DataFrames; one iteration is
    one join (rank/degree onto edges) + one groupBy (sum contributions
    onto targets) — the Pregel step expressed relationally. Dangling
    nodes can't occur in a symmetrized graph (every node has degree
    ≥ 1), so mass is conserved at Σrank = N exactly (up to float sum
    order) without a dangling-redistribution term. Convergence is
    probed every iteration with a 1-row L1-delta aggregate — the same
    bounded-driver-traffic pattern as connected_components' label-sum
    probe — and each iteration localCheckpoints to cut the lineage
    that otherwise re-evaluates the whole chain every probe.

    Returns ``node, rank`` with Σrank ≈ |nodes|.
    """
    fwd = edges.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    )
    sym = _both_directions(fwd).distinct()
    degrees = sym.groupBy("src").agg(F.count("*").alias("deg"))
    # degrees are loop-invariant: pre-join them onto the edge list ONCE
    # so each iteration pays a single |E| join (edges_w ⋈ ranks) instead
    # of two — at web scale that halves the per-round wide joins
    edges_w = sym.join(degrees, on="src").localCheckpoint(eager=False)
    ranks = degrees.select("src", F.lit(1.0).alias("rank")).localCheckpoint(
        eager=False
    )
    for _ in range(max_iter):
        contribs = edges_w.join(ranks, on="src").select(
            F.col("dst").alias("src"),
            (F.col("rank") / F.col("deg")).alias("contrib"),
        )
        new_ranks = (
            contribs.groupBy("src")
            .agg(
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.sum("contrib")
                ).alias("rank")
            )
            .localCheckpoint(eager=False)
        )
        delta = (
            new_ranks.join(
                ranks.withColumnRenamed("rank", "_prev"), on="src"
            )
            .agg(F.sum(F.abs(F.col("rank") - F.col("_prev"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks.select(F.col("src").alias("node"), "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst"):
    """Exact triangle counting by ordered two-path join (the classic
    MapReduce formulation: Suri & Vassilvitskii's node-iterator on
    DataFrames).

    Input: undirected edges in any orientation, possibly with
    duplicates/self-loops (both are cleaned here). Canonicalizing every
    edge to (lo, hi) and joining ONLY in ascending order means each
    triangle {a<b<c} is built exactly once — as path a→b→c closed by
    edge (a, c) — instead of six times; the dedup also makes the
    count immune to double-reported pairs from upstream near-dup
    operators.

    Two hash joins, both on edge keys: wedges = E ⋈ E on the middle
    vertex, closed = wedges ⋈ E on the outer pair. At 100 TB-scale
    graphs the standard refinement is degree-ordering instead of
    id-ordering (high-degree hubs produce O(d²) wedges; ordering by
    (degree, id) bounds wedge fan-out) — same plan shape, one extra
    degree join, documented here and cheap to swap in.

    Returns a 1-row DataFrame: (n_triangles, n_edges, n_wedges), where
    n_wedges counts ASCENDING two-paths a<b<c — the candidate set the
    closing join actually probes (the cost driver to watch), a third of
    the undirected wedge count.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .where(F.col("lo") < F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds three join sides
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    closed = wedges.join(ac, ["a", "c"])
    # one lazy plan, no driver-side counting: three scalar aggregates
    # cross-joined (each is a 1-row broadcast)
    return (
        closed.agg(F.count("*").alias("n_triangles"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(wedges.agg(F.count("*").alias("n_wedges")))
    )


def label_propagation(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
    trace: list | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over an undirected edge list — the coarser, density-
    seeking sibling of :func:`connected_components`: CC answers "what
    is transitively linked", LPA answers "what forms a tightly-linked
    neighborhood", which is the right grouping when dup clusters are
    bridged by a single spurious pair.

    Determinism (no RNG, unlike the textbook formulation): a node's
    next label is the most frequent label among its neighbors PLUS
    ITSELF (the self-vote damps the 2-coloring oscillation synchronous
    LPA is known for), ties broken by SMALLEST label. Every step is
    relational: one |E| join (labels onto edges), one groupBy count,
    one per-node argmax window — the Pregel superstep shape, same as
    pagerank. Early exit via a 1-row changed-label probe; iterations
    localCheckpoint to cut lineage. Returns ``node, label`` where
    label = min node id of the community's seed.

    Active-set optimization (r6): a node's vote multiset — its
    neighbors' labels plus its own — is unchanged unless itself or a
    neighbor changed label last superstep, so each iteration recomputes
    votes ONLY for that frontier and carries every other label forward
    untouched. Semantics are bit-identical to the full synchronous
    update (the skipped nodes would have recomputed the same argmax);
    the per-iteration edge shuffle shrinks with the frontier, so
    converged components stop paying — the Pregel "halt until message"
    contract, expressed relationally. ``trace``, when given a list,
    receives the per-iteration changed-node counts (the active-set
    decay the tests pin).
    """
    from pyspark.sql import Window

    fwd = edges.select(
        F.col(id_a).cast("long").alias("src"),
        F.col(id_b).cast("long").alias("dst"),
    )
    sym = (
        _both_directions(fwd)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    argmax = Window.partitionBy("node").orderBy(
        F.col("_votes").desc(), F.col("label").asc()
    )
    active = labels.select("node")  # superstep 0: every node votes
    for _ in range(max_iter):
        # frontier = active ∪ neighbors(active): the only nodes whose
        # vote multiset can have changed since last superstep
        frontier = (
            sym.join(active.withColumnRenamed("node", "src"), on="src")
            .select(F.col("dst").alias("node"))
            .unionByName(active)
            .distinct()
        )
        # votes for a frontier node still come from ALL its neighbors
        neighbor_votes = (
            sym.join(frontier.withColumnRenamed("node", "dst"), on="dst")
            .join(labels.withColumnRenamed("node", "src"), on="src")
            .select(F.col("dst").alias("node"), "label")
        )
        self_votes = labels.join(frontier, on="node", how="left_semi")
        updated = (
            neighbor_votes.unionByName(self_votes)
            .groupBy("node", "label")
            .agg(F.count("*").alias("_votes"))
            .withColumn("_rn", F.row_number().over(argmax))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        new_labels = updated.unionByName(
            labels.join(frontier, on="node", how="left_anti")
        ).localCheckpoint(eager=False)
        active = (
            updated.withColumnRenamed("label", "_new")
            .join(labels, on="node")
            .filter(F.col("_new") != F.col("label"))
            .select("node")
            .localCheckpoint(eager=False)
        )
        changed = active.count()
        if trace is not None:
            trace.append(changed)
        labels = new_labels
        if changed == 0:
            break
    return labels
