"""Edge PMI, ranked adjacency, and gazetteer entity resolution — the
round-5 KG-analytics family (operators/triples.py, operators/entity_resolution.py)."""

import math

import pytest

from gazetteer_entity_parser_spark.operators.entity_resolution import (
    resolve_similar_values,
)
from gazetteer_entity_parser_spark.operators.triples import (
    edge_pmi,
    entity_neighbors_topk,
)

TRIPLES = [
    ("a", "b", 10),
    ("a", "c", 1),
    ("b", "c", 4),
    ("c", "a", 2),
    ("b", "a", 3),
]


def _triples_df(spark):
    return spark.createDataFrame(TRIPLES, "subj string, obj string, weight bigint")


def test_edge_pmi_matches_closed_form(spark):
    T = sum(w for _, _, w in TRIPLES)
    ws = {}
    wo = {}
    for s, o, w in TRIPLES:
        ws[s] = ws.get(s, 0) + w
        wo[o] = wo.get(o, 0) + w
    expect = {
        (s, o): round(math.log(w * float(T) / (float(ws[s]) * float(wo[o]))), 6)
        for s, o, w in TRIPLES
    }
    got = {
        (r["subj"], r["obj"]): r["pmi"] for r in edge_pmi(_triples_df(spark)).collect()
    }
    assert got == pytest.approx(expect)


def test_edge_pmi_rare_but_exclusive_pair_beats_popular_pair(spark):
    """The semantic point of the filter: an edge between two entities that
    only ever co-occur with each other outranks a heavier edge between
    ubiquitous entities."""
    rows = [
        ("hub", "x", 50),
        ("hub", "y", 50),
        ("x", "hub", 40),
        ("rare1", "rare2", 2),
    ]
    df = spark.createDataFrame(rows, "subj string, obj string, weight bigint")
    got = {(r["subj"], r["obj"]): r["pmi"] for r in edge_pmi(df).collect()}
    assert got[("rare1", "rare2")] > got[("hub", "x")]


def test_entity_neighbors_merges_directions_and_breaks_ties_by_name(spark):
    got = {
        (r["entity"], r["rk"]): (r["neighbor"], r["weight"])
        for r in entity_neighbors_topk(_triples_df(spark), k=2).collect()
    }
    # a<->b: 10+3=13, a<->c: 1+2=3, b<->c: 4
    assert got[("a", 1)] == ("b", 13)
    assert got[("a", 2)] == ("c", 3)
    assert got[("b", 1)] == ("a", 13)
    assert got[("b", 2)] == ("c", 4)
    assert got[("c", 1)] == ("b", 4)
    assert got[("c", 2)] == ("a", 3)


def test_entity_neighbors_k_prunes_and_tiebreak_is_lexicographic(spark):
    rows = [("q", "zz", 5), ("q", "aa", 5), ("q", "mm", 5), ("q", "bb", 9)]
    df = spark.createDataFrame(rows, "subj string, obj string, weight bigint")
    got = [
        (r["rk"], r["neighbor"])
        for r in entity_neighbors_topk(df, k=3).where("entity = 'q'").collect()
    ]
    assert sorted(got) == [(1, "bb"), (2, "aa"), (3, "mm")]


# ---------------------------------------------------------------------------
# entity resolution (blocked Levenshtein)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


GAZ = [
    ("analysis", "Analysis"),
    ("analyis", "AnalysisTypo"),  # distance 1 from analysis, different entity
    ("analysts", "Analysts"),  # distance 2 from analysis
    ("banana", "Banana"),
    ("bananna", "Banana"),  # same entity -> excluded by default
    ("zebra", "Zebra"),
]


def _gaz_df(spark):
    return spark.createDataFrame(GAZ, "raw_value string, resolved_value string")


def test_resolution_matches_brute_force_within_block(spark):
    got = {
        (r["value_a"], r["value_b"]): r["distance"]
        for r in resolve_similar_values(_gaz_df(spark), max_distance=2).collect()
    }
    expect = {}
    for va, ea in GAZ:
        for vb, eb in GAZ:
            if va < vb and va[0] == vb[0] and ea != eb and _lev(va, vb) <= 2:
                expect[(va, vb)] = _lev(va, vb)
    assert got == expect
    assert ("analyis", "analysis") in got  # the typo pair made it through


def test_resolution_same_entity_pairs_excluded_by_default(spark):
    got = resolve_similar_values(_gaz_df(spark), max_distance=2).collect()
    assert all(r["entity_a"] != r["entity_b"] for r in got)
    with_same = resolve_similar_values(
        _gaz_df(spark), max_distance=2, exclude_same_entity=False
    ).collect()
    assert any(r["entity_a"] == r["entity_b"] for r in with_same)


def test_resolution_blocking_is_first_char(spark):
    """Documented recall trade: a FIRST-character typo escapes the block."""
    df = spark.createDataFrame(
        [("cat", "Cat"), ("bat", "Bat")], "raw_value string, resolved_value string"
    )
    assert resolve_similar_values(df, max_distance=1).count() == 0


def test_resolution_validates_distance(spark):
    with pytest.raises(ValueError, match="max_distance"):
        resolve_similar_values(_gaz_df(spark), max_distance=0)


# ---------------------------------------------------------------------------
# triangle counts / clustering coefficient
# ---------------------------------------------------------------------------


def _brute_triangles(edges):
    """Reference: undirected simple graph, per-node triangle count."""
    from itertools import combinations

    und = set()
    for u, v in edges:
        if u != v:
            und.add((min(u, v), max(u, v)))
    nodes = sorted({x for e in und for x in e})
    nbr = {n: set() for n in nodes}
    for u, v in und:
        nbr[u].add(v)
        nbr[v].add(u)
    tri = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if b in nbr[a] and c in nbr[a] and c in nbr[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    return {n: (len(nbr[n]), tri[n]) for n in nodes}


def test_triangles_match_brute_force_random_graph(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import triangle_counts

    rng = random.Random(7)
    edges = list({(rng.randrange(18), rng.randrange(18)) for _ in range(90)})
    df = spark.createDataFrame(
        [(f"n{u:02d}", f"n{v:02d}") for u, v in edges], "subj string, obj string"
    )
    got = {
        r["entity"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(df).collect()
    }
    expect = _brute_triangles([(f"n{u:02d}", f"n{v:02d}") for u, v in edges])
    assert set(got) == set(expect)
    for n, (d, t) in expect.items():
        gd, gt, gc = got[n]
        assert (gd, gt) == (d, t), n
        want_c = round(2.0 * t / (d * (d - 1.0)), 6) if d >= 2 else 0.0
        assert gc == pytest.approx(want_c), n


def test_triangles_direction_and_duplicates_collapse(spark):
    """(a,b) and (b,a) plus repeats are ONE undirected edge; a 3-cycle with
    reversed duplicate edges is still exactly one triangle per corner."""
    from gazetteer_entity_parser_spark.operators.graph import triangle_counts

    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c"), ("a", "a")]
    df = spark.createDataFrame(rows, "subj string, obj string")
    got = {r["entity"]: (r["degree"], r["triangles"]) for r in triangle_counts(df).collect()}
    assert got == {"a": (2, 1), "b": (2, 1), "c": (2, 1)}


# ---------------------------------------------------------------------------
# related entities (neighborhood Jaccard)
# ---------------------------------------------------------------------------


def _brute_jaccard(edges, min_common=1):
    und = {}
    for u, v in edges:
        if u != v:
            und.setdefault(u, set()).add(v)
            und.setdefault(v, set()).add(u)
    out = {}
    nodes = sorted(und)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            c = len(und[a] & und[b])
            if c >= min_common:
                out[(a, b)] = (c, round(c / len(und[a] | und[b]), 6))
    return out


def test_related_entities_match_brute_force(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import (
        related_entities_jaccard,
    )

    rng = random.Random(11)
    edges = list({(rng.randrange(15), rng.randrange(15)) for _ in range(60)})
    named = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
    df = spark.createDataFrame(named, "subj string, obj string")
    got = {
        (r["entity_a"], r["entity_b"]): (r["common"], r["jaccard"])
        for r in related_entities_jaccard(df, min_common=2).collect()
    }
    expect = _brute_jaccard(named, min_common=2)
    assert set(got) == set(expect)
    for k, (c, j) in expect.items():
        assert got[k][0] == c, k
        assert got[k][1] == pytest.approx(j), k


def test_related_entities_no_direct_edge_required(spark):
    """x and y never co-occur but share both p and q -> related."""
    from gazetteer_entity_parser_spark.operators.graph import (
        related_entities_jaccard,
    )

    rows = [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")]
    df = spark.createDataFrame(rows, "subj string, obj string")
    got = {
        (r["entity_a"], r["entity_b"]): (r["common"], r["jaccard"])
        for r in related_entities_jaccard(df, min_common=2).collect()
    }
    assert got[("x", "y")] == (2, 1.0)


def test_related_entities_hub_cap_is_lower_bound(spark):
    """With the hub pivot capped out, common undercounts (lower-bound
    score) and hub-only pairs vanish — the documented trade."""
    from gazetteer_entity_parser_spark.operators.graph import (
        related_entities_jaccard,
    )

    # hub connects to everyone; x,y also share private neighbor p
    rows = [("hub", t) for t in ("x", "y", "z", "w", "p")] + [
        ("x", "p"), ("y", "p")
    ]
    df = spark.createDataFrame(rows, "subj string, obj string")
    full = {
        (r["entity_a"], r["entity_b"]): r["common"]
        for r in related_entities_jaccard(df).collect()
    }
    capped = {
        (r["entity_a"], r["entity_b"]): r["common"]
        for r in related_entities_jaccard(df, max_neighbor_degree=3).collect()
    }
    assert full[("x", "y")] == 2  # hub + p
    assert capped[("x", "y")] == 1  # p only: lower bound survives
    assert ("w", "z") in full and ("w", "z") not in capped  # hub-only pair gone
    for k, c in capped.items():
        assert c <= full[k]


def test_related_entities_validates_args(spark):
    from gazetteer_entity_parser_spark.operators.graph import (
        related_entities_jaccard,
    )

    df = spark.createDataFrame([("a", "b")], "subj string, obj string")
    with pytest.raises(ValueError, match="min_common"):
        related_entities_jaccard(df, min_common=0)
    with pytest.raises(ValueError, match="max_neighbor_degree"):
        related_entities_jaccard(df, max_neighbor_degree=0)


# ---------------------------------------------------------------------------
# hop distances (multi-source BFS)
# ---------------------------------------------------------------------------


def _brute_bfs(edges, sources, max_hops):
    from collections import deque

    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    out = {}
    for s in sources:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for e, d in dist.items():
            out[(s, e)] = d
    return out


def test_hop_distances_match_bfs_random_graph(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import hop_distances

    rng = random.Random(23)
    edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(40)})
    named = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
    df = spark.createDataFrame(named, "subj string, obj string")
    sources = ["n00", "n07", "n13"]
    sdf = spark.createDataFrame([(s,) for s in sources], "entity string")
    got = {
        (r["source"], r["entity"]): r["dist"]
        for r in hop_distances(df, sdf, max_hops=4).collect()
    }
    assert got == _brute_bfs(named, sources, 4)


def test_hop_distances_truncates_at_max_hops(spark):
    from gazetteer_entity_parser_spark.operators.graph import hop_distances

    # path a-b-c-d-e: from a, max_hops=2 reaches only a,b,c
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    sdf = spark.createDataFrame([("a",)], "entity string")
    got = {
        (r["source"], r["entity"]): r["dist"]
        for r in hop_distances(df, sdf, max_hops=2).collect()
    }
    assert got == {("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 2}


def test_hop_distances_source_absent_from_graph(spark):
    from gazetteer_entity_parser_spark.operators.graph import hop_distances

    df = spark.createDataFrame([("a", "b")], "subj string, obj string")
    sdf = spark.createDataFrame([("zz",)], "entity string")
    got = [tuple(r) for r in hop_distances(df, sdf, max_hops=3).collect()]
    assert got == [("zz", "zz", 0)]


def test_hop_distances_validates_args(spark):
    from gazetteer_entity_parser_spark.operators.graph import hop_distances

    df = spark.createDataFrame([("a", "b")], "subj string, obj string")
    sdf = spark.createDataFrame([("a",)], "entity string")
    with pytest.raises(ValueError, match="max_hops"):
        hop_distances(df, sdf, max_hops=-1)


# ---------------------------------------------------------------------------
# harmonic centrality (landmark fixed-point)
# ---------------------------------------------------------------------------


def test_harmonic_centrality_matches_bfs_reference(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import harmonic_centrality

    rng = random.Random(31)
    edges = list({(rng.randrange(20), rng.randrange(20)) for _ in range(45)})
    named = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
    df = spark.createDataFrame(named, "subj string, obj string")
    landmarks = ["n00", "n03", "n08", "n11"]
    ldf = spark.createDataFrame([(s,) for s in landmarks], "entity string")
    dist = _brute_bfs(named, landmarks, 4)
    # lcm(1..4) = 12: the same fixed-point sum the operator uses
    expect = {}
    for (s, e), d in dist.items():
        if d > 0:
            n, h = expect.get(e, (0, 0))
            expect[e] = (n + 1, h + 12 // d)
    expect = {e: (n, round(h / 12.0, 6)) for e, (n, h) in expect.items()}
    got = {
        r["entity"]: (r["n_landmarks"], r["harmonic"])
        for r in harmonic_centrality(df, ldf, max_hops=4).collect()
    }
    assert got == pytest.approx(expect)


def test_harmonic_centrality_excludes_self_and_unreachable(spark):
    from gazetteer_entity_parser_spark.operators.graph import harmonic_centrality

    # two components: a-b, x-y; landmark a reaches only b (dist 1)
    df = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "subj string, obj string"
    )
    ldf = spark.createDataFrame([("a",)], "entity string")
    got = {
        r["entity"]: (r["n_landmarks"], r["harmonic"])
        for r in harmonic_centrality(df, ldf, max_hops=3).collect()
    }
    assert got == {"b": (1, 1.0)}  # a itself (dist 0) and x,y absent


# ---------------------------------------------------------------------------
# k-core (iterative peel)
# ---------------------------------------------------------------------------


def _brute_k_core(edges, k):
    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for n in adj[v]:
                adj[n].discard(v)
            del adj[v]
            changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_k_core_matches_brute_force(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import k_core

    rng = random.Random(43)
    for k in (2, 3):
        edges = list({(rng.randrange(22), rng.randrange(22)) for _ in range(55)})
        named = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
        df = spark.createDataFrame(named, "subj string, obj string")
        got = {r["entity"]: r["degree"] for r in k_core(df, k=k).collect()}
        assert got == _brute_k_core(named, k), f"k={k}"


def test_k_core_cascading_peel(spark):
    """Removing a leaf drops its neighbor below k, cascading: a pendant
    chain hanging off a triangle fully peels, the triangle survives."""
    from gazetteer_entity_parser_spark.operators.graph import k_core

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("e", "f")]
    df = spark.createDataFrame(edges, "subj string, obj string")
    got = {r["entity"]: r["degree"] for r in k_core(df, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}


def test_k_core_empty_when_no_core(spark):
    from gazetteer_entity_parser_spark.operators.graph import k_core

    # a path has no 2-core
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "subj string, obj string")
    out = k_core(df, k=2)
    assert out.count() == 0
    assert out.columns == ["entity", "degree"]


def test_k_core_validates_k(spark):
    from gazetteer_entity_parser_spark.operators.graph import k_core

    df = spark.createDataFrame([("a", "b")], "subj string, obj string")
    with pytest.raises(ValueError, match="k must"):
        k_core(df, k=0)


# ---------------------------------------------------------------------------
# graph materialization stage (pipeline)
# ---------------------------------------------------------------------------


def test_materialize_graph_analytics_writes_three_tables(spark, tmp_path):
    from gazetteer_entity_parser_spark.plans.pipeline import (
        materialize_graph_analytics,
    )

    from pyspark.sql import functions as F

    trip = _triples_df(spark).withColumn("pred", F.lit("co_occurs_with"))
    jsc = spark.sparkContext._jsc
    persisted = set(jsc.getPersistentRDDs())
    out = materialize_graph_analytics(trip, str(tmp_path), pagerank_iters=3, topk=2)
    # nothing the call persisted outlives it (ids, not a count: the context
    # cleaner may drop other tests' garbage-collected RDDs meanwhile)
    assert not set(jsc.getPersistentRDDs()) - persisted
    # a frame the caller cached stays cached
    trip.persist()
    try:
        materialize_graph_analytics(trip, str(tmp_path), pagerank_iters=3, topk=2)
        assert trip.storageLevel.useMemory
    finally:
        trip.unpersist()
    assert set(out["paths"]) == {"pagerank", "triangles", "neighbors"}
    assert out["rows"]["pagerank"] == 3  # a, b, c
    assert out["rows"]["triangles"] == 3
    assert out["rows"]["neighbors"] == 6  # 3 entities x top-2
    pr = spark.read.parquet(out["paths"]["pagerank"])
    assert set(pr.columns) == {"entity", "rank_fp", "score"}
    # written table re-reads with the same fixed-point values
    from gazetteer_entity_parser_spark.operators.graph import pagerank

    direct = {r["entity"]: r["rank_fp"] for r in pagerank(trip, n_iter=3).collect()}
    stored = {r["entity"]: r["rank_fp"] for r in pr.collect()}
    assert stored == direct


def test_pagerank_raises_on_nonpositive_weight(spark):
    from gazetteer_entity_parser_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b", 2), ("b", "a", 0)], "subj string, obj string, weight bigint"
    )
    with pytest.raises(Exception, match="positive integer"):
        pagerank(df, n_iter=1).collect()
    # r6 (ADVICE): a fractional weight must raise too, not silently
    # truncate to 0/1 under the long cast
    frac = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 0.7)], "subj string, obj string, weight double"
    )
    with pytest.raises(Exception, match="positive integer"):
        pagerank(frac, n_iter=1).collect()
    # integral-valued doubles remain accepted
    ok = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 1.0)], "subj string, obj string, weight double"
    )
    assert pagerank(ok, n_iter=1).count() == 2


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _brute_lpa(edges, n_iter):
    """Independent replay: synchronous weighted LPA, min-label ties."""
    sym = {}
    for u, v, w in edges:
        if u != v:
            sym[(u, v)] = sym.get((u, v), 0) + w
            sym[(v, u)] = sym.get((v, u), 0) + w
    nodes = sorted({a for a, _ in sym})
    lab = {n: n for n in nodes}
    for _ in range(n_iter):
        new = {}
        for v in nodes:
            votes = {}
            for (a, b), w in sym.items():
                if a == v:
                    votes[lab[b]] = votes.get(lab[b], 0) + w
            new[v] = min(votes, key=lambda l: (-votes[l], l))
        lab = new
    return lab


def test_label_propagation_matches_python_reference(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import label_propagation

    rng = random.Random(59)
    edges = list(
        {
            (rng.randrange(16), rng.randrange(16), rng.randrange(1, 6))
            for _ in range(40)
        }
    )
    named = [(f"n{u:02d}", f"n{v:02d}", w) for u, v, w in edges]
    df = spark.createDataFrame(named, "subj string, obj string, weight bigint")
    for rounds in (1, 3, 5):
        got = {
            r["entity"]: r["community"]
            for r in label_propagation(df, n_iter=rounds).collect()
        }
        assert got == _brute_lpa(named, rounds), rounds


def test_label_propagation_splits_barbell_communities(spark):
    """Two dense triangles joined by ONE weak bridge: one connected
    component, two LPA communities — the semantic difference vs CC."""
    from gazetteer_entity_parser_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    heavy = [
        ("a1", "a2", 9), ("a2", "a3", 9), ("a1", "a3", 9),
        ("b1", "b2", 9), ("b2", "b3", 9), ("b1", "b3", 9),
        ("a3", "b1", 1),  # weak bridge
    ]
    df = spark.createDataFrame(heavy, "subj string, obj string, weight bigint")
    comms = {
        r["entity"]: r["community"]
        for r in label_propagation(df, n_iter=5).collect()
    }
    assert len(set(comms.values())) >= 2
    assert comms["a1"] == comms["a2"] == comms["a3"]
    assert comms["b2"] == comms["b3"]
    assert comms["a1"] != comms["b2"]
    cc = {
        r["entity"]: r["component"]
        for r in connected_components(
            df.select("subj", "obj"), src="subj", dst="obj"
        ).collect()
    }
    assert len(set(cc.values())) == 1  # ...but it IS one component


def test_label_propagation_validates_args(spark):
    from gazetteer_entity_parser_spark.operators.graph import label_propagation

    df = spark.createDataFrame([("a", "b", 1)], "subj string, obj string, weight bigint")
    with pytest.raises(ValueError, match="n_iter"):
        label_propagation(df, n_iter=0)


def _new_named_persistent_rdds(spark, before: set) -> list:
    """Names of persistent RDDs created since ``before`` that carry a name:
    a cached frame's RDD is named after its plan, a local checkpoint's is
    not."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return [rdds[i].name() for i in set(rdds) - before if rdds[i].name()]


def test_graph_operators_release_their_cached_frames(spark):
    """hop_distances (and harmonic_centrality through it) and
    label_propagation return frames built from local checkpoints: the
    frames they cache along the way are released before they return."""
    from gazetteer_entity_parser_spark.operators.graph import (
        harmonic_centrality,
        hop_distances,
        label_propagation,
    )

    df = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("c", "d", 3), ("x", "y", 1)],
        "subj string, obj string, weight bigint",
    )
    sdf = spark.createDataFrame([("a",), ("x",)], "entity string")
    jsc = spark.sparkContext._jsc
    for run in (
        lambda: hop_distances(df, sdf, max_hops=3),
        lambda: harmonic_centrality(df, sdf, max_hops=3),
        lambda: label_propagation(df, n_iter=2),
    ):
        before = set(jsc.getPersistentRDDs())
        assert run().collect()
        assert _new_named_persistent_rdds(spark, before) == []
    # max_hops=0 returns the (cached) seed itself: it stays readable
    got = sorted(tuple(r) for r in hop_distances(df, sdf, max_hops=0).collect())
    assert got == [("a", "a", 0), ("x", "x", 0)]


def test_canonical_triples_cached_per_application(spark):
    """The graph-family input is built once per (app, sf_dir): repeated
    calls return the SAME persisted frame (no re-extraction, no cache
    stacking)."""
    from gazetteer_entity_parser_spark.plans.queries import (
        _canonical_triples_persisted,
    )

    a = _canonical_triples_persisted(spark, "/root/testdata/sf0.001")
    b = _canonical_triples_persisted(spark, "/root/testdata/sf0.001")
    assert a is b
    assert a.count() == b.count()


def test_graph_summary_matches_brute_force(spark):
    import random

    from gazetteer_entity_parser_spark.operators.graph import graph_summary

    rng = random.Random(67)
    edges = list({(rng.randrange(14), rng.randrange(14)) for _ in range(35)})
    named = [(f"n{u:02d}", f"n{v:02d}") for u, v in edges]
    stats = _brute_triangles(named)
    n_tri_total = sum(t for _, t in stats.values()) // 3
    wedges = sum(d * (d - 1) // 2 for d, _ in stats.values())
    degs = [d for d, _ in stats.values()]
    df = spark.createDataFrame(named, "subj string, obj string")
    row = graph_summary(df).collect()[0]
    assert row["n_vertices"] == len(stats)
    assert row["n_edges"] == sum(degs) // 2
    assert row["n_triangles"] == n_tri_total
    assert row["max_degree"] == max(degs)
    assert row["avg_degree"] == pytest.approx(round(sum(degs) / len(degs), 6))
    want_t = round(3 * n_tri_total / wedges, 6) if wedges else 0.0
    assert row["transitivity"] == pytest.approx(want_t)


def test_graph_summary_triangle_free_graph(spark):
    from gazetteer_entity_parser_spark.operators.graph import graph_summary

    # star graph: wedges but zero triangles -> transitivity 0.0
    df = spark.createDataFrame(
        [("c", x) for x in ("a", "b", "d")], "subj string, obj string"
    )
    row = graph_summary(df).collect()[0]
    assert (row["n_triangles"], row["transitivity"]) == (0, 0.0)
    assert row["max_degree"] == 3
