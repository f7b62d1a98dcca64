"""Graph analytics over the near-duplicate pair graph.

A corpus-scale pipeline does not stop at pair generation: the dup
graph itself carries signal. Connected components (``dedup_clusters``)
answer "which docs are the same"; centrality answers "which doc is the
HUB" — the canonical/original copy that many variants orbit, the same
role harmonic centrality plays in CommonCrawl's host-level quality
ranking. PageRank here runs as the classic bounded-round iterative
Spark computation: K unrolled sparse matrix-vector rounds, each ONE
join + ONE aggregation keyed on node id.

Exactness discipline: every quantity is an integer — ranks live in
1e-12 units of probability mass, contributions are floor divisions
(`div` in Spark, `//` in DuckDB, both truncating on non-negative
operands), and the damping step is ``(17·sum) div 20``. There is no
float anywhere, so partial-aggregation order cannot move a rank by
even one unit and the DuckDB oracle (the same recurrence unrolled as
chained CTEs) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqawk_spark.operators.registry import query
from sqawk_spark.operators.session_cache import SessionCache

_PR_SCALE = 1_000_000_000_000  # rank units: 1e-12 of total mass
_PR_ROUNDS = 3


# Shared symmetric-edge frame with BOTH endpoint degrees attached,
# cached per session: PageRank consumes (src, dst, deg);
# triangle counting orients edges by comparing (deg, src) to
# (deg_dst, dst) with ZERO further joins. One build serves the family
# — the same resident-structure pattern as dedup's _PAIRS_CACHE.
#
# r11: the edge frame persists HASH-PARTITIONED ON src so every
# src-keyed consumer (each PageRank round's rank join, the triangle
# wedge self-join on the orientation source) reads the cached
# partitioning instead of re-exchanging the edge list per use (guide
# §2.4 "two operations keyed the same way share one exchange"); the
# degree table (V rows, the node set) persists alongside so PageRank
# stops re-deriving it per run with a distinct() over the E-row frame.
#
# r12: the cached frames are localCheckpoint'ed, not persist'ed. With
# persist, every consumer plan still carried the FULL build lineage
# (the whole jaccard-pairs subtree) through analysis and cache
# substitution — the pagerank plan dump was 16k lines and its builder
# + per-action Catalyst cost ~1.5 s/run of pure driver time (guide
# §3.3/§7.3: "very large plans — planning time itself can become the
# bottleneck ... localCheckpoint truncates the plan"). The checkpoint
# replaces the lineage with a LogicalRDD leaf that KEEPS the pinned
# hash(src) partitioning and src ordering, so consumers see the same
# layout from a ~50-line plan. Recomputability of the cached frame is
# lost on executor failure (the entry stays until _GRAPH_CACHE.release
# drops it and the next call rebuilds), and the node count rides
# along so PageRank stops paying one count() job per run.
_GRAPH_CACHE = SessionCache()


def _graph_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(edges_with_degrees, degrees, n_nodes) — frames materialized by
    localCheckpoint, edges partitioned and sorted by src."""
    from sqawk_spark.operators.dedup import _near_dup_pairs

    def build() -> tuple[DataFrame, DataFrame, int]:
        pairs = _near_dup_pairs(spark, sf_dir)
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        deg = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=True)
        )
        degv = deg.select(
            F.col("src").alias("dst"), F.col("deg").alias("deg_dst")
        )
        # the trailing repartition pins HashPartitioning(src) on the
        # materialized cache regardless of which join strategy AQE
        # picked for the degree attachments (a broadcast join would
        # otherwise leave the scan's partitioning) — one extra
        # build-time exchange buys an exchange-free src side for every
        # per-round/per-run consumer. eager=True so the captured
        # LogicalRDD records the EXECUTED plan's partitioning/ordering
        # (the lazy form records the conservative pre-AQE one).
        edges_deg = (
            edges.join(degv, "dst")
            .join(deg, "src")
            .select("src", "dst", "deg", "deg_dst")
            .repartition("src")
            .sortWithinPartitions("src")
            .localCheckpoint(eager=True)
        )
        # one count over the checkpointed V-row frame, stored with the
        # cache: the teleport scalar is a property of the graph, and
        # re-running a count() job per PageRank run was pure overhead
        # (same footer-stats lesson as events_late_drop, guide §5)
        return edges_deg, deg, deg.count()

    return _GRAPH_CACHE.get_or_build(spark, (sf_dir,), build)


def _sym_edges_with_deg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_frames(spark, sf_dir)[0]



def _pagerank_oracle() -> str:
    from sqawk_spark.operators.dedup import _SHINGLE_CTES

    step = """
    r{k} AS (
        SELECT e.dst AS doc_id,
               (3 * {scale} // (20 * nn.n))
                   + (17 * sum(p.r // d.deg)) // 20 AS r
        FROM edges e
        JOIN r{j} p ON e.src = p.doc_id
        JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst, nn.n
    )"""
    chain = ",".join(
        step.format(k=k, j=k - 1, scale=_PR_SCALE)
        for k in range(1, _PR_ROUNDS + 1)
    )
    return f"""
        WITH {_SHINGLE_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM near_dups
            UNION ALL
            SELECT doc_b, doc_a FROM near_dups
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (SELECT src AS doc_id, {_PR_SCALE} // nn.n AS r FROM deg, nn),
        {chain}
        SELECT f.doc_id,
               CAST(d.deg AS BIGINT) AS deg,
               CAST(f.r AS BIGINT) AS rank_micro
        FROM r{_PR_ROUNDS} f JOIN deg d ON f.doc_id = d.src
    """


@query("graph_pagerank_dupgraph", oracle=_pagerank_oracle())
def graph_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph — hub scoring for duplicate
    families. Three damped power-iteration rounds (d = 0.85 as the
    exact rational 17/20) over the symmetric near-dup edge list;
    output is (doc_id, deg, rank_micro) for every document with at
    least one near-duplicate, rank in 1e-12 mass units. Dangling
    nodes cannot exist (the node set is the edge endpoints of a
    symmetric graph), which is what makes the plain recurrence exact
    without a dangling-mass redistribution term.

    Iterative-computation shape: the edge list joins its degree table
    ONCE and the result persists; each round is then one equi-join of
    the current rank vector against that frame plus one sum keyed on
    the destination — the sparse matrix-vector product. Rounds are a
    compile-time constant (unrolled into the plan, no driver
    synchronization per round beyond the single node-count scalar),
    exactly how the component label-propagation fallback iterates.

    Scale: the near-dup graph is pair-stream-sized — orders below the
    corpus (MAX_DF keeps it sparse) — so at 100 TB the rank vector
    and edges shuffle on well-hashed node ids; nothing is quadratic,
    nothing collects but one COUNT scalar. The shared ``_PAIRS_CACHE``
    means a session that already ran dedup pays only the K rounds."""
    # r11: the degree/node table comes from the persisted cache — the
    # old form re-derived it per run with a distinct() over the E-row
    # edge frame (one full extra exchange per execution, guide §2.4);
    # the edge frame itself is cache-partitioned on src, so each
    # round's rank join exchanges only the V-row rank vector.
    edges_deg, deg, n = _graph_frames(spark, sf_dir)
    edges = edges_deg.select("src", "dst", "deg")
    # the node count (teleport term) rides the session graph cache —
    # r12: no per-run count() job (see _GRAPH_CACHE)
    teleport = 3 * _PR_SCALE // (20 * n)

    ranks = deg.select(
        F.col("src").alias("doc_id"), F.lit(_PR_SCALE // n).alias("r")
    )
    for _ in range(_PR_ROUNDS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["doc_id"])
            .select("dst", F.expr("r div deg").alias("c"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("doc_id"),
                (F.lit(teleport) + F.expr("(17 * s) div 20")).alias("r"),
            )
        )
    return ranks.join(deg, ranks["doc_id"] == deg["src"]).select(
        "doc_id",
        F.col("deg").cast("long").alias("deg"),
        F.col("r").cast("long").alias("rank_micro"),
    )


def _triangle_oracle() -> str:
    from sqawk_spark.operators.dedup import _SHINGLE_CTES

    return f"""
        WITH {_SHINGLE_CTES},
        ue AS (
            SELECT doc_a AS u, doc_b AS v FROM near_dups
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM ue e1
            JOIN ue e2 ON e2.u = e1.v
            JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        members AS (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM members GROUP BY doc_id
    """


@query("graph_triangle_count", oracle=_triangle_oracle())
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the near-dup graph —
    the local-clustering signal that separates a tight duplicate
    CLIQUE (template spam: every variant matches every other) from a
    chain of incidental pairwise overlaps, which is how corpus audits
    rank dup families for removal-by-cluster vs removal-by-pair.

    Spark plan is the degree-ordered NODE-ITERATOR — the algorithm
    that makes distributed triangle counting feasible: each undirected
    edge is oriented from its lower-(degree, id) endpoint to the
    higher, so every triangle is counted exactly once as an oriented
    wedge a→b, a→c closed by b→c, and — the load-bound that matters —
    each node's out-degree is bounded by O(sqrt(edges)) regardless of
    how skewed the raw degree distribution is (a hub with a million
    neighbors produces wedges only toward its few HIGHER-degree peers,
    not a million² explosion). Two self-joins keyed on node ids, one
    count; the oracle verifies against the orientation-free a<b<c
    formulation, which must produce the identical triangle set.

    Scale: edges ⋘ corpus (MAX_DF-capped index), the wedge join keys
    on well-hashed doc ids, and AQE handles residual skew; nothing
    collects to the driver."""
    # orient each edge from lower (deg, id) to higher (deg, id): every
    # out-neighborhood is O(sqrt(E)) even under hub skew. Both endpoint
    # degrees ride the shared persisted frame, so orientation is a
    # FILTER, not a join.
    ed = _sym_edges_with_deg(spark, sf_dir)
    oriented = ed.filter(
        (F.col("deg") < F.col("deg_dst"))
        | ((F.col("deg") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "a").filter(F.col("b") != F.col("c"))
    closer = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # wedge (a→b, a→c) closes iff b→c oriented: each triangle once.
    # r11: emit the three members by EXPLODING one small array per
    # triangle row — the previous unionAll of three projections over
    # the same join subtree executed the wedge-close join three times
    # (only its exchanges were reused, not the join itself; guide
    # §1.2 "don't compute things you throw away"). Same multiset of
    # member rows, one execution of the join.
    tri = wedges.join(closer, ["b", "c"])
    members = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return members.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


_CN_MIN_COMMON = 2  # co-shingle edge: >= 2 shared rare shingles


def _common_neighbors_oracle() -> str:
    from sqawk_spark.operators.dedup import _SHINGLE_CTES

    return f"""
        WITH {_SHINGLE_CTES},
        e0 AS (
            SELECT doc_a, doc_b FROM pairs WHERE n_common >= {_CN_MIN_COMMON}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM e0
            UNION ALL
            SELECT doc_b, doc_a FROM e0
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        wedge AS (
            SELECT e1.dst AS u, e2.dst AS v, count(*) AS n_common
            FROM edges e1 JOIN edges e2
              ON e1.src = e2.src AND e1.dst < e2.dst
            GROUP BY 1, 2
        )
        SELECT w.u AS doc_a, w.v AS doc_b,
               CAST(w.n_common AS BIGINT) AS n_common_nbrs,
               round(w.n_common * 1.0
                     / (da.deg + db.deg - w.n_common), 6) AS nbr_jaccard
        FROM wedge w
        JOIN deg da ON da.src = w.u
        JOIN deg db ON db.src = w.v
        LEFT JOIN e0 a ON a.doc_a = w.u AND a.doc_b = w.v
        WHERE a.doc_a IS NULL
    """


@query("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the document CO-SHINGLE graph: two docs
    are linked when they share >= 2 rare shingles (a much denser,
    noisier graph than the near-dup threshold graph — exactly the
    substrate link prediction is for); for every NON-adjacent pair
    with at least one common neighbor, emit the common-neighbor count
    and neighborhood Jaccard. These are the missed-duplicate
    candidates a dedup audit reviews first: each near-matches the same
    third documents but fell under the pairwise threshold itself.

    Shape: one wedge self-join through the shared neighbor (keyed on
    node id — candidate pairs are generated ONLY where a common
    neighbor exists, never all-pairs), one keyed count, an anti-join
    against the edge list to drop already-adjacent pairs, two degree
    lookups. The Jaccard divides two exact integers, rounded
    identically on both engines.

    Scale: wedge fan-out is sum(deg^2) over the pair graph — the
    friend-of-friend bound; hub skew goes to AQE's skew-join split,
    and the MAX_DF cap bounds index-side fan-out upstream. Reuses the
    persisted shingle index (_INDEX_CACHE), so a session that already
    ran the dedup family pays only the joins."""
    from sqawk_spark.operators.dedup import _shingle_index

    filtered = _shingle_index(spark, sf_dir)
    a = filtered.select(F.col("doc_id").alias("doc_a"), "g")
    b = filtered.select(F.col("doc_id").alias("doc_b"), "g")
    e0 = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
        .filter(F.col("nc") >= _CN_MIN_COMMON)
        .select("doc_a", "doc_b")
    )
    edges = e0.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        e0.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e1 = edges.select("src", F.col("dst").alias("u"))
    e2 = edges.select("src", F.col("dst").alias("v"))
    wedge = (
        e1.join(e2, "src")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    adj = e0.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    non_adj = wedge.join(adj, ["u", "v"], "left_anti")
    da = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_b"))
    return (
        non_adj.join(da, "u")
        .join(db, "v")
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            F.col("n_common").cast("long").alias("n_common_nbrs"),
            F.round(
                F.col("n_common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")),
                6,
            ).alias("nbr_jaccard"),
        )
    )
