"""Graph materialization operators over extracted edges (north_rule Stage
D+): connected components, two formulations behind one contract.

``method='minlabel'`` (default): iterative min-label propagation. Each round
is ONE shuffle keyed on the vertex id (neighbor-min groupBy), each round's
labels are localCheckpoint-ed (lineage truncation — see the in-function
comment; superseded rounds are reclaimed by the ContextCleaner once their
references drop, so steady-state storage is a small multiple of |V|, not
O(rounds x |V|) retained), and the loop stops at the measured fixpoint (no
label changed). Convergence is O(graph diameter) rounds — the right tool for
the pipeline's actual graphs (near-duplicate clusters: diameter ~1-3; entity
co-occurrence: small-world). Exhausting ``max_iters`` before the fixpoint
RAISES rather than returning silently-split components.

``method='star'``: alternating large-star/small-star contraction (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
O(log n) rounds regardless of diameter, the web-scale formulation for
long-chain general graphs. Each half-round is a vertex-keyed
groupBy(min) + self-join emitting re-pointed edges; the edge set
monotonically contracts toward a star forest centered on each component's
minimum vertex, and convergence is detected by edge-set fixpoint (both
transforms are idempotent exactly on star forests). A 2^10-hop path graph
converges in ~6 alternations where min-label would need 1023 rounds
(pinned in tests/test_graph.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) with a > b (larger endpoint first), self-loops dropped,
    deduped — the canonical orientation both star transforms emit, which
    makes round-over-round edge-set equality a meaningful fixpoint test."""
    return (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star(u): connect every STRICTLY LARGER neighbor of u to
    m = min(N(u) ∪ {u}). Output orientation is (larger, smaller) because
    v > u >= m. One vertex-keyed shuffle (groupBy) + one equi-join.

    (r6 note: an explicit hash(a) co-partitioning of sym — one exchange
    feeding groupBy, join and a clustering-compatible dedup — was built and
    A/B-measured NEUTRAL at 1M edges (23.0 vs 23.2 s): the min-aggregate
    side is |V|-sized and AQE resolves both joins as BROADCAST joins here,
    so the streamed side needs no particular partitioning and the added
    repartition exchanges exactly cancel the removed ones. Skipping the
    internal distinct instead (deferring dedup to small-star's tail) was
    rejected without measurement: pre-dedup multiplicity is degree-bounded,
    i.e. a hub-skew blowup for exactly the graphs the star path exists for.
    Star wall remains fixpoint-round-bound, not exchange-bound, at
    measurable scale.)"""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("_nbr_min"))
    mins = mins.select("a", F.least("a", "_nbr_min").alias("m"))
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star(u): over larger->smaller directed edges, connect u and all
    of its (smaller) neighbors except the minimum to m = min(N(u)). Output
    stays (larger, smaller)-oriented. Same per-round plan shape as
    large-star."""
    mins = e.groupBy("a").agg(F.min("b").alias("m"))
    joined = e.join(mins, "a")
    repointed = (
        joined.where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    kept = joined.select("a", F.col("m").alias("b"))
    return repointed.union(kept).distinct()


def _star_components(
    edges: DataFrame, src: str, dst: str, max_iters: int
) -> DataFrame:
    def _edge_summary(frame):
        # one action: (count, order-independent hash fold — bit_xor never
        # overflows under ANSI, and the edge set is distinct so xor
        # cancellation cannot occur). Equal summaries almost surely mean
        # equal edge sets; the exceptAll equality proof runs ONLY when the
        # summary matches (once, at convergence). Replaces two count
        # actions per alternation with one agg — measured ~5% of star
        # wall at 1M edges (the transforms dominate); the hash guard also
        # catches the count-equal-but-set-changed case the old
        # short-circuit could in principle miss mid-contraction.
        row = frame.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    e = _canonical_edges(edges, src, dst).localCheckpoint()
    prev_summary = _edge_summary(e)
    converged = False
    # (r6 note: batching TWO alternations per checkpoint+summary action —
    # to halve the per-round action count — was A/B-measured WORSE at 1M
    # edges both ways it can be built: un-checkpointed intermediate 32.7 s,
    # lazily-persisted intermediate 29.3 s, vs 18.3-23.2 s for the
    # per-alternation checkpoint across the same windows. The second
    # alternation's 2-3 references re-enter the first's subtree through
    # AQE-replanned exchanges that do not reliably reuse, and the cache
    # write/read of the 2x|E| intermediate costs more than the saved
    # checkpoint+summary jobs. Per-alternation checkpointing stays.
    # A fourth variant — localCheckpoint(eager=False) so the summary agg
    # triggers materialization in the SAME job, halving per-alternation
    # job count — was interleaved-A/B NEUTRAL at 1M edges (lazy
    # 20.3/16.4/15.4 s vs eager 20.7/15.8/16.1 isolated 3-rep): the
    # transform stages dominate and the merged job saves only job
    # submission, not work. Eager stays — it fails faster and its
    # materialization point is explicit.)
    for _ in range(max_iters):
        # localCheckpoint per alternation: each transform references its
        # input 2-3 times — same lineage-blowup trap as min-label rounds
        new_e = _small_star(_large_star(e)).localCheckpoint()
        new_summary = _edge_summary(new_e)
        unchanged = new_summary == prev_summary and new_e.exceptAll(e).isEmpty()
        e, prev_summary = new_e, new_summary
        if unchanged:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge within max_iters={max_iters} "
            "alternations — pathological for O(log n) contraction; raise "
            "max_iters"
        )
    # fixpoint = star forest: every edge already points at its component's
    # minimum vertex; centers join as their own component. Vertices whose
    # only edges were SELF-LOOPS never entered the contraction (canonical
    # edges drop a == b) but ARE vertices of the graph — min-label returns
    # them as singletons, so the star path must too (identical contract).
    components = (
        e.select(F.col("a").alias("entity"), F.col("b").alias("component"))
        .union(
            e.select(F.col("b").alias("entity"), F.col("b").alias("component"))
        )
        .distinct()
    )
    all_verts = (
        edges.select(F.col(src).alias("entity"))
        .union(edges.select(F.col(dst).alias("entity")))
        .where(F.col("entity").isNotNull())
        .distinct()
    )
    singletons = all_verts.join(
        components.select("entity"), "entity", "left_anti"
    ).select("entity", F.col("entity").alias("component"))
    return components.union(singletons)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    method: str = "minlabel",
) -> DataFrame:
    """(entity, component) for every vertex appearing in ``edges``; the
    component id is the MINIMUM vertex id (by the column's natural ordering)
    in the vertex's connected component — deterministic, join-friendly, and
    directly usable as a dedup cluster keeper id.

    ``method='minlabel'`` converges in O(diameter) rounds (default — right
    for near-dup clusters and other small-diameter graphs);
    ``method='star'`` is the O(log n)-round large-star/small-star
    contraction for long-chain web-scale graphs. Identical output contract;
    the driver query's recursive-CTE oracle pins both (tests/test_graph.py).

    Undirected: edges are symmetrized. Isolated vertices never enter
    ``edges`` and so are absent from the output (callers union them back as
    their own singleton components if needed)."""
    if method == "star":
        return _star_components(edges, src, dst, max_iters)
    if method != "minlabel":
        raise ValueError(f"method must be 'minlabel' or 'star', got {method!r}")
    half = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    # localCheckpoint (not persist): every round's plan references the
    # previous round 2-3 times, so without lineage TRUNCATION the logical
    # plan grows ~3^rounds and the driver OOMs composing it long before any
    # data moves (observed at ~25 rounds). Checkpointing materializes the
    # round to executor storage and restarts the plan from a leaf — the
    # standard shape for iterative DataFrame algorithms (production systems
    # with fault-tolerance needs use reliable checkpoint(dir) instead).
    labels = (
        sym.select(F.col("a").alias("entity"))
        .distinct()
        .withColumn("label", F.col("entity"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = sym.join(labels, sym["a"] == labels["entity"]).select(
            F.col("b").alias("entity"), "label"
        )
        new_labels = (
            nbr_min.unionByName(labels)
            .groupBy("entity")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "entity")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        # a silent fall-out would return one true component split into many
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            "rounds (graph diameter exceeds the budget); raise max_iters or use "
            "a star-contraction variant for long-chain graphs"
        )
    return labels.select("entity", F.col("label").alias("component"))


def _integral_weight(weight_col: str, op_name: str):
    """Loud in-plan integer-weight guard shared by the weighted-graph
    operators: a non-integral weight silently truncates under
    ``cast("long")`` (0.7 -> 0, 1.7 -> 1) and changes results without
    error; NULL/non-positive weights corrupt the weighted sums. Fail at
    runtime instead (no extra job)."""
    w = F.col(weight_col)
    return (
        F.when((w > 0) & (w.cast("long") == w), w.cast("long"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{op_name}: edge weight must be a positive integer, got "),
                    w.cast("string"),
                )
            ).cast("long")
        )
    )


def _small_graph(
    edges: DataFrame, cap: int, compute, values: dict[str, bool], entity_nullable: bool
):
    """The one small-graph dispatch of the iterative graph operators.

    ``edges``' first two columns are the endpoints. When both have the same
    string or integral type, a bounded probe (``limit(cap+1)``, one job)
    finds at most ``cap`` rows and no NULL endpoint, ``compute(rows)`` runs
    on the driver and its ``[(entity, *values)]`` result is returned as a
    DataFrame ``(entity, *values)`` with BIGINT values. ``values`` maps each
    value column to its nullability; with ``entity_nullable`` the caller
    gives the nullability its distributed plan derives, so both paths
    return one schema. The result goes
    back as an Arrow table, which the JVM scans directly; a Python list
    would be parallelized through a Python task per default partition.
    Returns None when the caller must take its distributed plan: the cap is
    0, the probe overflows it, an endpoint is NULL or the types differ.
    """
    a, b = edges.columns[:2]
    ent_t = edges.schema[a].dataType
    if (
        cap <= 0
        or ent_t != edges.schema[b].dataType
        or not isinstance(
            ent_t, (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType)
        )
    ):
        return None
    probe = edges.limit(int(cap) + 1).collect()
    if len(probe) > cap or any(r[0] is None or r[1] is None for r in probe):
        return None
    cols = list(zip(*compute(probe))) or [()] * (1 + len(values))
    # createDataFrame casts the table to ``schema``'s Arrow types
    table = pa.table(dict(zip(["entity", *values], cols)))
    schema = T.StructType(
        [T.StructField("entity", ent_t, entity_nullable)]
        + [T.StructField(c, T.LongType(), n) for c, n in values.items()]
    )
    return edges.sparkSession.createDataFrame(table, schema)


def _local_pagerank(rows, n_iter, d_pct, scale, redistribute_dangling):
    """Driver-side replay of the pagerank recurrence for graphs under the
    local cap: numpy elementwise float64 reproduces the distributed
    floor(double) contribution formula bit-for-bit (same multiplication
    order, same int64→float64 nearest rounding, and the floor-exactness
    argument in :func:`pagerank`'s docstring is engine-independent), and
    int64 contribution sums are associative, so the values are identical
    to the distributed path's by construction. Returns [(entity, r)] in
    sorted node order."""
    import math

    import numpy as np

    nodes = sorted({r[0] for r in rows} | {r[1] for r in rows})
    if not nodes:
        return []
    idx = {n: i for i, n in enumerate(nodes)}
    n_nodes = len(nodes)
    src = np.fromiter((idx[u] for u, _, _ in rows), np.int64, len(rows))
    dst = np.fromiter((idx[v] for _, v, _ in rows), np.int64, len(rows))
    w = np.fromiter((w for _, _, w in rows), np.int64, len(rows))
    wout = np.zeros(n_nodes, np.int64)
    np.add.at(wout, src, w)
    w_f = w.astype(np.float64)
    denom = 100.0 * wout[src].astype(np.float64)
    is_dangling = np.ones(n_nodes, bool)
    is_dangling[src] = False
    base = int(scale) * (100 - int(d_pct)) // 100
    d_f = float(d_pct)
    r = np.full(n_nodes, int(scale), np.int64)
    for _ in range(n_iter):
        contrib = np.floor(
            r[src].astype(np.float64) * d_f * w_f / denom
        ).astype(np.int64)
        c = np.zeros(n_nodes, np.int64)
        np.add.at(c, dst, contrib)
        share = 0
        if redistribute_dangling:
            d_mass = int(r[is_dangling].sum())
            share = (d_mass * int(d_pct)) // (100 * n_nodes)
        r = base + c + share
    return [(n, int(r[idx[n]])) for n in nodes]


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    d_pct: int = 85,
    scale: int = 1_000_000,
    src_col: str = "subj",
    dst_col: str = "obj",
    weight_col: str = "weight",
    checkpoint_every: int = 5,
    redistribute_dangling: bool = False,
    local_edge_cap: int = 100_000,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, in FIXED-POINT integer
    arithmetic so the result is bit-portable across engines and partition
    orders (north_rule Stage D+: entity-importance ranking over the KG).

    Every rank is a BIGINT in units of 1/scale: iteration k+1 sets

        r'(v) = scale*(100-d_pct)/100
                + sum over in-edges (u,v,w) of
                      floor(r(u) * d_pct * w / (100 * wout(u)))

    where wout(u) is u's total out-weight. Integer sums are associative —
    unlike float sums, the shuffle's reduction order cannot change the
    result — and the floor() of the double division is exact because both
    operands are exactly-representable integers and a non-integral rational
    p/q sits >= 1/q away from any integer (q = 100*wout << 2^52), so the
    same value is reproduced by any IEEE-754 engine, including the DuckDB
    oracle's unrolled-CTE replay of the same formula. Fixed-point bounds:
    exactness needs r(u)*d_pct*w < 2^53 — holds to ~10^9-node graphs at
    default scale; lower ``scale`` for larger graphs.

    Dangling mass (nodes with no out-edges): by default NOT redistributed
    — their rank re-seeds to the base each round (the cheap contract).
    ``redistribute_dangling=True`` applies the classic correction, kept
    IN-PLAN (no per-iteration driver collect): each round a 1-row
    aggregate D = sum of dangling ranks is broadcast-cross-joined and
    every node additionally receives ``(D * d_pct) div (100 * N)`` —
    pure BIGINT arithmetic (exactness needs D * d_pct < 2^63; D <=
    N * scale * ~(1 + n_iter), far inside the bound at default scale
    until ~10^10 nodes). N is counted once up front (one tiny job).

    Scale shape: edges+outw persist once (|E|); each iteration is one
    src-keyed join |E| |x| |V| and one dst-keyed partial/final aggregation
    — both shuffles keyed by entity id, map-side combinable, skew handled
    by AQE. Lineage is localCheckpoint-truncated every ``checkpoint_every``
    iterations (linear growth, not the 3^n of min-label propagation, but
    unbounded n_iter would still bloat plan compile time).

    Adaptive small-graph execution (``local_edge_cap``, r6): an iterative
    plan is ~3 exchanges PER ITERATION of fixed scheduling cost (the
    n_iter=10 query plan carries 220 Exchange nodes) — absurd for a graph
    that fits in one task. When the small-graph dispatch
    (:func:`_small_graph`: a bounded ``limit(cap+1)`` probe, one job) shows
    at most ``local_edge_cap`` edges with same-typed, non-NULL
    endpoints, the recurrence is replayed on the driver in numpy —
    bit-identical by the same engine-portability argument as the DuckDB
    oracle (integer sums + exact floor(double)); the final
    rank_fp/score projection stays a Spark expression so `round`
    semantics are Spark's own. Driver memory is bounded by the cap
    (~8 MB at the default, the same class of driver-resident bound as
    the broadcast parser); larger inputs take the unchanged distributed
    path, paying only the bounded probe. Set ``local_edge_cap=0`` to
    force distributed. NULL endpoints or differing src/dst column types
    always fall through to the distributed path (its NULL/coercion
    semantics are the contract).
    """
    if not 0 < d_pct < 100:
        raise ValueError(f"d_pct must be in (0, 100), got {d_pct}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        # loud in-plan guard (no extra job): a non-positive weight would
        # make wout <= 0 and the floor() contribution NaN -> NULL -> the
        # sum silently drops it; a NON-INTEGRAL weight would silently
        # truncate under cast("long") (0.7 -> 0 passes a bare >0 check and
        # then zeroes wout). Integer-weight contract: fail on both.
        _integral_weight(weight_col, "pagerank").alias("_w"),
    )
    local = _small_graph(
        e,
        local_edge_cap,
        lambda rows: _local_pagerank(
            rows, n_iter, d_pct, scale, redistribute_dangling
        ),
        # the distributed ranks: a union of both endpoints, and a NULL-able
        # ``div`` only when the dangling share is added
        {"r": redistribute_dangling},
        e.schema["_src"].nullable or e.schema["_dst"].nullable,
    )
    if local is not None:
        return local.select(
            "entity",
            F.col("r").alias("rank_fp"),
            F.round(F.col("r") / F.lit(float(scale)), 6).alias("score"),
        )
    nodes = (
        e.select(F.col("_src").alias("entity"))
        .unionByName(e.select(F.col("_dst").alias("entity")))
        .distinct()
        .persist()
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_wout"))
    ej = e.join(outw, "_src").persist()
    base = int(scale) * (100 - int(d_pct)) // 100
    ranks = nodes.withColumn("r", F.lit(int(scale)).cast("long"))
    n_nodes = nodes.count() if redistribute_dangling else 0
    src_set = outw.select(F.col("_src").alias("entity"))
    # (r6 note: a seed-union formulation — the base term riding the
    # contribution aggregation as per-node union rows, removing the
    # nodes-left-join per iteration — was built and A/B-measured ~4-6x
    # SLOWER at 1M edges (the left join resolves as a broadcast of the
    # 1-row-per-node aggregate under AQE and costs almost nothing, while
    # the union blocks the partial-agg/codegen shape), so the join
    # formulation stays.)
    for i in range(n_iter):
        contribs = ej.join(
            ranks.withColumnRenamed("entity", "_src"), "_src"
        ).select(
            F.col("_dst").alias("entity"),
            F.floor(
                F.col("r").cast("double")
                * F.lit(float(d_pct))
                * F.col("_w").cast("double")
                / (F.lit(100.0) * F.col("_wout").cast("double"))
            )
            .cast("long")
            .alias("c"),
        )
        summed = contribs.groupBy("entity").agg(F.sum("c").alias("c"))
        rank_base = nodes.join(summed, "entity", "left")
        if redistribute_dangling:
            # 1-row dangling-mass aggregate, broadcast-cross-joined so
            # EVERY node (with or without edge contributions) receives the
            # integer share — no per-iteration driver collect
            dang = ranks.join(src_set, "entity", "left_anti").agg(
                F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("_D")
            )
            share = F.expr(f"(_D * {int(d_pct)}) div {100 * int(n_nodes)}")
            rank_base = rank_base.crossJoin(F.broadcast(dang))
        else:
            share = F.lit(0).cast("long")
        ranks = rank_base.select(
            "entity",
            (F.lit(base) + F.coalesce(F.col("c"), F.lit(0)) + share)
            .cast("long")
            .alias("r"),
        )
        # with redistribution, EVERY round references ranks twice (the
        # contributions join AND the dangling aggregate), so un-truncated
        # lineage doubles per round (2^k replay; measured 10x wall at 10
        # iterations) — checkpoint every round in that mode
        every = 1 if redistribute_dangling else checkpoint_every
        if (i + 1) % every == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "entity",
        F.col("r").alias("rank_fp"),
        F.round(F.col("r") / F.lit(float(scale)), 6).alias("score"),
    )


def _local_triangle_counts(rows):
    """Driver-side replay of the triangle/degree counts for graphs under
    the local cap. ``rows`` are (a, b) pairs already filtered by the same
    ``a != b`` predicate the distributed plan applies (so no NULLs or
    self-loops reach here). Only the INTEGER outputs are computed — degree
    (distinct undirected neighbors) and per-vertex triangle count — both
    of which are orientation-independent, so none of the distributed
    plan's degree-ordering logic needs replicating; the float clustering
    column stays a Spark expression in the caller. Per-vertex triangle
    count: half the sum over incident edges of |adj(u) ∩ adj(v)| (each
    triangle at v is seen through both of its edges at v). Returns
    [(entity, degree, triangles)] in sorted vertex order."""
    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = []
    for v in sorted(adj):
        nbrs = adj[v]
        t2 = 0
        for u in nbrs:
            t2 += len(nbrs & adj[u])
        out.append((v, len(nbrs), t2 // 2))
    return out


def triangle_counts(
    edges: DataFrame,
    src_col: str = "subj",
    dst_col: str = "obj",
    local_edge_cap: int = 50_000,
) -> DataFrame:
    """Per-entity triangle count + local clustering coefficient over the
    UNDIRECTED simple graph induced by the edge list (directions merged,
    self-loops dropped, parallel edges collapsed). KG-quality metric:
    entities embedded in tightly-knit neighborhoods (high clustering) are
    structurally confirmed; bridges and noise edges are not.

    Algorithm (the standard distributed shape): orient every undirected
    edge from the LOWER-degree endpoint to the higher (tiebreak by name),
    so each triangle is counted exactly once at its lowest-degree corner's
    wedge, and — the scale point — wedge fan-out per vertex is bounded by
    its ORIENTED out-degree, O(sqrt(|E|)) for any graph (arboricity
    argument), so a celebrity hub with 10^6 neighbors contributes no
    10^12-wedge explosion: its edges all point INTO it. Wedges are joined
    back against the oriented edge set to find closures, then each
    triangle credits all three corners.

    Shuffles: degree agg (|E|), two orientation joins (broadcast-sized
    degree dim at vocab scale; entity-keyed exchange in general), the
    wedge self-join keyed on the wedge pivot, and the closure equi-join on
    the (lo, hi) edge key. No CartesianProduct at any size.

    Output: (entity, degree, triangles, clustering) with
    clustering = 2*T / (deg*(deg-1)), 0.0 for deg < 2, rounded to 6.

    Adaptive small-graph execution (``local_edge_cap``, r6, the same
    :func:`_small_graph` dispatch as :func:`pagerank`): when a bounded
    probe of the already-filtered
    (a != b — NULLs and self-loops drop identically in both paths) edge
    projection shows at most ``local_edge_cap`` rows with same-typed
    endpoints, degree and triangle counts — pure integers, independent
    of the orientation order — are computed on the driver and only the
    float ``clustering`` projection runs as the SAME Spark expression,
    so every emitted value is bit-identical by construction. Larger
    inputs or mixed endpoint types take the unchanged distributed path.
    """
    filtered = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).where(F.col("a") != F.col("b"))
    local = _small_graph(
        filtered,
        local_edge_cap,
        _local_triangle_counts,
        {"degree": False, "triangles": False},
        # the distributed vertices are least()/greatest() of the endpoints,
        # which are NULL only when both are
        filtered.schema["a"].nullable and filtered.schema["b"].nullable,
    )
    if local is not None:
        return _triangle_output(local)
    und = (
        filtered
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("lo").alias("entity"))
        .unionByName(und.select(F.col("hi").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").alias("degree"))
        .persist()
    )
    # orient: (u -> v) iff (deg(u), u) < (deg(v), v)
    dl = deg.select(
        F.col("entity").alias("lo"),
        F.col("degree").alias("_dlo"),
    )
    dh = deg.select(
        F.col("entity").alias("hi"),
        F.col("degree").alias("_dhi"),
    )
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(
                (F.col("_dlo") < F.col("_dhi"))
                | ((F.col("_dlo") == F.col("_dhi")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
            )
            .otherwise(F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .persist()
    )
    # wedges at u: (u, v1, v2) with v1 < v2 among u's oriented out-neighbors
    w1 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("v1"))
    w2 = oriented.select(F.col("u").alias("w_u"), F.col("v").alias("v2"))
    wedges = w1.join(w2, "w_u").where(F.col("v1") < F.col("v2"))
    # closure: the (v1, v2) edge exists in the undirected set (lo < hi by
    # construction, and v1 < v2 here, so the join key is direct)
    tri = wedges.join(
        und.select(F.col("lo").alias("v1"), F.col("hi").alias("v2")),
        ["v1", "v2"],
    ).select(
        F.col("w_u").alias("c1"), F.col("v1").alias("c2"), F.col("v2").alias("c3")
    )
    credit = (
        tri.select(F.col("c1").alias("entity"))
        .unionByName(tri.select(F.col("c2").alias("entity")))
        .unionByName(tri.select(F.col("c3").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").alias("triangles"))
    )
    return _triangle_output(deg.join(credit, "entity", "left"))


def _triangle_output(deg_tri: DataFrame) -> DataFrame:
    """Shared final projection of :func:`triangle_counts` — the local and
    distributed paths both route their (entity, degree, triangles) frame
    through this ONE expression set, so the derived ``clustering`` float
    is the same Spark arithmetic in both."""
    return (
        deg_tri
        .select(
            "entity",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (
                        F.col("degree").cast("double")
                        * (F.col("degree").cast("double") - 1.0)
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def related_entities_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    max_neighbor_degree: int | None = None,
    src_col: str = "subj",
    dst_col: str = "obj",
) -> DataFrame:
    """Structural relatedness WITHOUT a direct edge requirement: Jaccard
    similarity of undirected neighbor sets, |N(a) ∩ N(b)| / |N(a) ∪ N(b)|,
    for every pair sharing >= ``min_common`` neighbors. The KG-enrichment
    operator: two entities that co-occur with the same things are related
    even if they never co-occur with each other.

    Scale shape: the candidate generator self-joins the adjacency on the
    SHARED NEIGHBOR, so a neighbor of degree d fans out d^2/2 pairs — the
    classic hub blowup. ``max_neighbor_degree`` drops pivot neighbors above
    the cap from candidate generation (a stopword-like recall trade: a hub
    co-neighbor carries near-zero relatedness signal anyway, exactly the
    PMI argument), bounding per-key work. The cap applies to the PIVOT
    role only; degrees in the denominator stay exact, so for a surviving
    pair the reported score is a LOWER BOUND on true Jaccard (exact when
    the pair shares no hub neighbor), and a pair whose every common
    neighbor is a hub disappears entirely — both documented trades. Everything else
    is entity-keyed aggs/joins.

    Output: (entity_a, entity_b, common, jaccard), entity_a < entity_b,
    jaccard rounded to 6.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    adj = (
        edges.select(F.col(src_col).alias("e"), F.col(dst_col).alias("n"))
        .unionByName(
            edges.select(F.col(dst_col).alias("e"), F.col(src_col).alias("n"))
        )
        .where(F.col("e") != F.col("n"))
        .distinct()
        .persist()
    )
    deg = adj.groupBy("e").agg(F.count("*").alias("d")).persist()
    pivots = adj
    if max_neighbor_degree is not None:
        if max_neighbor_degree < 1:
            raise ValueError(
                f"max_neighbor_degree must be >= 1, got {max_neighbor_degree}"
            )
        # anti-join the HUB list (small by definition — hubs are the tail
        # above the cap), not a semi-join against the ~|V|-sized keep set:
        # broadcasting the keep list would ship the whole vertex dimension
        hubs = deg.where(F.col("d") > int(max_neighbor_degree)).select(
            F.col("e").alias("n")
        )
        pivots = adj.join(F.broadcast(hubs), "n", "left_anti")
    a = pivots.select(F.col("n").alias("_pivot"), F.col("e").alias("entity_a"))
    b = pivots.select(F.col("n").alias("_pivot"), F.col("e").alias("entity_b"))
    common = (
        a.join(b, "_pivot")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= int(min_common))
    )
    da = deg.select(F.col("e").alias("entity_a"), F.col("d").alias("_da"))
    db = deg.select(F.col("e").alias("entity_b"), F.col("d").alias("_db"))
    return (
        common.join(da, "entity_a")
        .join(db, "entity_b")
        .select(
            "entity_a",
            "entity_b",
            F.col("common").cast("bigint").alias("common"),
            F.round(
                F.col("common").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def hop_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src_col: str = "subj",
    dst_col: str = "obj",
    source_col: str = "entity",
) -> DataFrame:
    """Multi-source BFS over the UNDIRECTED graph: for every (source,
    entity) pair with entity reachable from that source within
    ``max_hops``, the exact hop distance. The KG path primitive —
    landmark-distance features, neighborhood expansion, "how far is X
    from Y" — computed for ALL sources simultaneously (one frame keyed by
    (entity, source), not a per-source loop).

    Level-synchronous frontier expansion: round k joins the CURRENT
    frontier (pairs first reached at distance k) against the edge list,
    min-aggregates candidate pairs, and anti-joins the already-settled
    set — BFS's first-visit-is-shortest invariant makes the settled set
    append-only, so each round is one |frontier|-keyed join + one agg +
    one anti-join, all entity-keyed; no all-pairs anything. The loop is
    driver-side but touches no data (a cheap isEmpty() per round bounds
    it); lineage is localCheckpoint-truncated EVERY round — the settled
    frame otherwise accretes one union per hop and the frontier one
    join-depth per hop (the min-label propagation lesson).

    Unreachable (source, entity) pairs and hops beyond ``max_hops`` are
    omitted. Sources not present in the graph contribute only their own
    (source, source, 0) row.

    Output: (source, entity, dist), dist in [0, max_hops].
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    settled = seed = (
        sources.select(F.col(source_col).alias("source"))
        .distinct()
        .select("source", F.col("source").alias("entity"), F.lit(0).alias("dist"))
        .persist()
    )
    frontier = settled
    for k in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        cand = (
            frontier.join(sym, frontier["entity"] == sym["a"])
            .select("source", F.col("b").alias("entity"), F.lit(k).alias("dist"))
            .groupBy("source", "entity")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = cand.join(
            settled.select("source", "entity"), ["source", "entity"], "left_anti"
        ).localCheckpoint()
        settled = settled.unionByName(frontier).localCheckpoint()
    # the result is a local checkpoint (or, with no round run, the seed
    # itself), so neither sym nor a superseded seed is read again
    sym.unpersist()
    if settled is not seed:
        seed.unpersist()
    return settled.select("source", "entity", F.col("dist").cast("int").alias("dist"))


def harmonic_centrality(
    edges: DataFrame,
    landmarks: DataFrame,
    max_hops: int = 6,
    src_col: str = "subj",
    dst_col: str = "obj",
    landmark_col: str = "entity",
) -> DataFrame:
    """Landmark-approximated harmonic centrality: for each entity v,
    sum over landmarks L != v reachable within ``max_hops`` of
    1 / dist(L, v). Landmark sampling is the standard scale approximation
    for centrality (exact harmonic needs all-pairs distances); with
    landmarks = all vertices it IS exact harmonic centrality truncated at
    ``max_hops``.

    Determinism trick (same philosophy as fixed-point PageRank): float
    sums are reduction-order-dependent, so instead of summing 1/d doubles
    the operator sums ``scale // d`` BIGINTs with scale = lcm(1..max_hops)
    — every term is exact (lcm is divisible by every d), integer addition
    is associative, and the final single division by the scale is one
    correctly-rounded IEEE op. Bit-identical across partitionings and
    engines.

    Output: (entity, n_landmarks, harmonic) — n_landmarks counts the
    reachable landmarks (self excluded); entities reachable from no
    landmark (or only from themselves) are absent.
    """
    import math

    scale = math.lcm(*range(1, max_hops + 1)) if max_hops >= 1 else 1
    d = hop_distances(
        edges,
        landmarks,
        max_hops=max_hops,
        src_col=src_col,
        dst_col=dst_col,
        source_col=landmark_col,
    )
    return (
        d.where(F.col("dist") > 0)
        .groupBy("entity")
        .agg(
            F.count("*").cast("bigint").alias("n_landmarks"),
            # `div` (integer division) — `/` would be double division and
            # reintroduce the order-dependent float sum this scale avoids
            F.sum(F.expr(f"CAST({int(scale)} AS BIGINT) div dist"))
            .cast("long")
            .alias("_h_fp"),
        )
        .select(
            "entity",
            "n_landmarks",
            F.round(F.col("_h_fp").cast("double") / F.lit(float(scale)), 6).alias(
                "harmonic"
            ),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iters: int = 50,
    src_col: str = "subj",
    dst_col: str = "obj",
) -> DataFrame:
    """The k-core of the undirected simple graph: the maximal subgraph in
    which every vertex has degree >= k, computed by iterative peeling
    (drop all vertices with degree < k, recompute degrees, repeat until
    no vertex drops). KG curation: entities outside the 2-core hang off
    the graph by a single thread (chains/leaves) and are the first
    candidates for review; the k-core is also the standard preprocessing
    step before dense-subgraph mining.

    The peel order cannot change the result (the k-core is unique — the
    fixpoint of a monotone operator), so the output is deterministic
    regardless of partitioning. Each round is one degree aggregation
    (|E|, entity-keyed, map-side combinable) and two semi-joins filtering
    the edge list; rounds are localCheckpoint-truncated. Convergence is
    at most |V| rounds in theory; in practice a handful (each round must
    drop >= 1 vertex or stop). Exhausting ``max_iters`` RAISES rather
    than returning a not-yet-converged overapproximation.

    Output: (entity, degree) — vertices of the k-core with their degree
    WITHIN the core (>= k by definition). Empty when no k-core exists.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    for _ in range(max_iters):
        deg = (
            e.select(F.col("lo").alias("entity"))
            .unionByName(e.select(F.col("hi").alias("entity")))
            .groupBy("entity")
            .agg(F.count("*").alias("degree"))
        )
        keep = deg.where(F.col("degree") >= int(k)).select("entity")
        e2 = (
            e.join(keep.withColumnRenamed("entity", "lo"), "lo", "left_semi")
            .join(keep.withColumnRenamed("entity", "hi"), "hi", "left_semi")
            .localCheckpoint()
        )
        n2 = e2.count()
        if n2 == n_edges:
            return deg.where(F.col("degree") >= int(k)).select(
                "entity", F.col("degree").cast("bigint").alias("degree")
            )
        # (an emptied edge set converges on the NEXT round's n2 == n_edges
        # check, returning an empty frame with the input's entity type)
        e, n_edges = e2, n2
    raise RuntimeError(
        f"k_core did not converge within max_iters={max_iters} peeling "
        "rounds; raise max_iters"
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "subj",
    dst_col: str = "obj",
    weight_col: str = "weight",
) -> DataFrame:
    """Weighted label-propagation community detection, run for EXACTLY
    ``n_iter`` synchronous rounds with a deterministic tiebreak — labels
    start as the vertex id; each round every vertex adopts the label
    carrying the largest total incident edge weight among its neighbors
    (ties: smallest label). Communities differ from connected components:
    a barbell of two dense cliques joined by one weak bridge is ONE
    component but TWO communities.

    Fixed-round-count semantics (like the PageRank contract, not a
    fixpoint): synchronous LPA can oscillate on bipartite-ish structures,
    so "run until stable" is not well-defined — a fixed deterministic
    round count is reproducible, oracle-checkable (the DuckDB oracle
    unrolls the same rounds), and what you'd schedule at 10^12 docs
    anyway. Production graphs wanting stability run semi-synchronous
    (graph-colored) LPA; the per-round plan below is identical, only the
    update schedule changes.

    Per round: one |E|-keyed join (labels onto neighbors), one
    (vertex, label) aggregation, one vertex-keyed window for the argmax —
    all shuffles keyed by vertex/label, map-side combinable; rounds are
    localCheckpoint-truncated. Integer weight sums -> the argmax inputs
    are order-independent, so the result is partition-deterministic.

    Output: (entity, community).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    sym = (
        edges.select(
            F.col(src_col).alias("a"),
            F.col(dst_col).alias("b"),
            _integral_weight(weight_col, "label_propagation").alias("w"),
        )
        .unionByName(
            edges.select(
                F.col(dst_col).alias("a"),
                F.col(src_col).alias("b"),
                _integral_weight(weight_col, "label_propagation").alias("w"),
            )
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .persist()
    )
    labels = sym.select(F.col("a").alias("entity")).distinct().withColumn(
        "label", F.col("entity")
    )
    for _ in range(n_iter):
        votes = (
            sym.join(labels.withColumnRenamed("entity", "b"), "b")
            .groupBy(F.col("a").alias("entity"), "label")
            .agg(F.sum("w").alias("wsum"))
        )
        # deterministic argmax as a HASH aggregation, not a sort window:
        # min(struct(-wsum, label)) = largest weight, then smallest label
        # — field-by-field struct ordering, map-side combinable, no
        # per-entity sort shuffle
        labels = (
            votes.groupBy("entity")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("wsum")).alias("_nw"), F.col("label").alias("label")
                    )
                ).alias("_m")
            )
            .select("entity", F.col("_m.label").alias("label"))
            .localCheckpoint()
        )
    sym.unpersist()  # the labels are a local checkpoint: sym is not read again
    return labels.select("entity", F.col("label").alias("community"))


def graph_summary(
    edges: DataFrame, src_col: str = "subj", dst_col: str = "obj"
) -> DataFrame:
    """One-row global summary of the undirected simple graph: vertex and
    edge counts, degree stats, triangle count, and global transitivity
    (3 x triangles / wedges — the probability a random wedge closes).
    The KG health dashboard row.

    Derived entirely from :func:`triangle_counts` (per-entity degrees and
    triangle credits), so it inherits the degree-oriented wedge bound;
    the final step is a single global aggregation of a |V|-sized frame.
    All inputs to the transitivity division are exact BIGINT sums, the
    division is one correctly-rounded IEEE op — engine-portable.
    """
    tc = triangle_counts(edges, src_col=src_col, dst_col=dst_col)
    wedges = F.sum(
        (F.col("degree") * (F.col("degree") - F.lit(1)) / F.lit(2)).cast("long")
    )
    return tc.agg(
        F.count("*").cast("bigint").alias("n_vertices"),
        (F.sum("degree") / 2).cast("bigint").alias("n_edges"),
        (F.sum("triangles") / 3).cast("bigint").alias("n_triangles"),
        F.max("degree").cast("bigint").alias("max_degree"),
        F.round(F.avg("degree"), 6).alias("avg_degree"),
        F.round(
            F.when(
                wedges > 0,
                F.sum("triangles").cast("double") / wedges.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("transitivity"),
    )
