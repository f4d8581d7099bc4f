"""PageRank: pinned-semantics parity vs a pure-Python reference,
mass conservation, structural sanity, checkpoint parity."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.operators import graph as G


def _py_pagerank(edges, iterations=5, damping=0.85, dp=9):
    """Pure-Python replay of the pinned semantics in graph.pagerank."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {v: 0 for v in nodes}
    for s, _ in edges:
        outdeg[s] += 1
    rank = {v: round(1.0 / n, dp) for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for s, d in edges:
            contrib[d] += rank[s] / outdeg[s]
        dang = sum(rank[v] for v in nodes if outdeg[v] == 0)
        rank = {
            v: round(
                (1 - damping) / n + damping * (contrib[v] + dang / n), dp
            )
            for v in nodes
        }
    return rank, outdeg


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_python_reference(spark):
    rnd = random.Random(42)
    nodes = list(range(40))
    edges = sorted(
        {
            (rnd.choice(nodes), rnd.choice(nodes))
            for _ in range(160)
        }
    )
    edges = [e for e in edges if e[0] != e[1]]
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(_edges_df(spark, edges), iterations=6).collect()
    }
    want, _ = _py_pagerank(edges, iterations=6)
    assert set(got) == set(want)
    for v in want:
        # round-half mode may differ at exact .5 boundaries (measure
        # zero on real sums); allow one ulp of the 9dp grain
        assert abs(got[v] - want[v]) <= 2e-9, (v, got[v], want[v])


def test_pagerank_mass_conserved_with_dangling(spark):
    # star: 0 -> {1..5}; leaves are all dangling
    edges = [(0, i) for i in range(1, 6)]
    out = G.pagerank(_edges_df(spark, edges), iterations=8).collect()
    total = sum(r["rank"] for r in out)
    assert abs(total - 1.0) < 1e-6
    leaves = {r["rank"] for r in out if r["node"] != 0}
    assert len(leaves) == 1  # symmetry: all leaves identical
    hub = [r["rank"] for r in out if r["node"] == 0][0]
    assert hub < leaves.pop() * 5  # hub only gets teleport + dangling


def test_pagerank_uniform_on_cycle(spark):
    n = 7
    edges = [(i, (i + 1) % n) for i in range(n)]
    out = G.pagerank(_edges_df(spark, edges), iterations=5).collect()
    for r in out:
        assert abs(r["rank"] - 1.0 / n) < 1e-8


def test_pagerank_checkpoint_parity(spark):
    rnd = random.Random(7)
    edges = sorted({(rnd.randrange(20), rnd.randrange(20)) for _ in range(60)})
    df = _edges_df(spark, edges)
    plain = {r["node"]: r["rank"] for r in G.pagerank(df, iterations=6).collect()}
    ck = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, iterations=6, checkpoint_every=2).collect()
    }
    assert plain == ck


def test_pagerank_in_degree_orders_rank(spark):
    # node 1 has 3 in-edges, node 2 has 1: rank(1) > rank(2)
    edges = [(10, 1), (11, 1), (12, 1), (13, 2)]
    got = {r["node"]: r["rank"] for r in G.pagerank(_edges_df(spark, edges)).collect()}
    assert got[1] > got[2]


def test_pagerank_validates_args(spark):
    df = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError):
        G.pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        G.pagerank(df, iterations=-1)


def test_top_ranked_deterministic_tiebreak(spark):
    edges = [(i, (i + 1) % 6) for i in range(6)]  # uniform ranks
    top = G.top_ranked(G.pagerank(_edges_df(spark, edges)), 3).collect()
    assert [r["node"] for r in top] == [0, 1, 2]
    assert [r["pos"] for r in top] == [1, 2, 3]


# --- HITS --------------------------------------------------------------------


def _py_hits(edges, iterations=5, dp=9):
    import math

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    init = round(1.0 / math.sqrt(n), dp)
    auth = {v: init for v in nodes}
    hub = {v: init for v in nodes}

    def prop(state, flip):
        raw = {v: 0.0 for v in nodes}
        for s, d in edges:
            if flip:
                raw[s] += state[d]
            else:
                raw[d] += state[s]
        raw = {v: round(x, dp) for v, x in raw.items()}
        norm = math.sqrt(sum(x * x for x in raw.values()))
        return {
            v: round(x / norm, dp) if norm > 0 else 0.0
            for v, x in raw.items()
        }

    for _ in range(iterations):
        auth = prop(hub, flip=False)
        hub = prop(auth, flip=True)
    return auth, hub


def test_hits_matches_python_reference(spark):
    rnd = random.Random(5)
    edges = sorted({(rnd.randrange(30), rnd.randrange(30)) for _ in range(90)})
    edges = [e for e in edges if e[0] != e[1]]
    out = G.hits(_edges_df(spark, edges), iterations=4).collect()
    want_a, want_h = _py_hits(edges, iterations=4)
    assert len(out) == len(want_a)
    for r in out:
        assert abs(r["authority"] - want_a[r["node"]]) <= 2e-9
        assert abs(r["hub"] - want_h[r["node"]]) <= 2e-9


def test_hits_star_hub_vs_authorities(spark):
    edges = [(0, i) for i in range(1, 5)]
    out = {r["node"]: r for r in G.hits(_edges_df(spark, edges), iterations=3).collect()}
    assert out[0]["hub"] > 0.99 and out[0]["authority"] == 0.0
    for i in range(1, 5):
        assert out[i]["authority"] == 0.5 and out[i]["hub"] == 0.0


def test_hits_l2_normalized(spark):
    rnd = random.Random(9)
    edges = sorted({(rnd.randrange(12), rnd.randrange(12)) for _ in range(30)})
    out = G.hits(_edges_df(spark, edges), iterations=3).collect()
    assert abs(sum(r["authority"] ** 2 for r in out) - 1.0) < 1e-6
    assert abs(sum(r["hub"] ** 2 for r in out) - 1.0) < 1e-6


# --- weighted PageRank ---------------------------------------------------------


def _py_weighted_pagerank(wedges, iterations=5, damping=0.85, dp=9):
    nodes = sorted({s for s, d, _ in wedges} | {d for s, d, _ in wedges})
    n = len(nodes)
    outw = {v: 0.0 for v in nodes}
    for s, _, w in wedges:
        outw[s] += w
    rank = {v: round(1.0 / n, dp) for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for s, d, w in wedges:
            if outw[s] > 0:
                contrib[d] += rank[s] / outw[s] * w
        dang = sum(rank[v] for v in nodes if outw[v] == 0)
        rank = {
            v: round((1 - damping) / n + damping * (contrib[v] + dang / n), dp)
            for v in nodes
        }
    return rank


def test_weighted_pagerank_matches_python_reference(spark):
    rnd = random.Random(13)
    wedges = sorted(
        {(rnd.randrange(20), rnd.randrange(20)) for _ in range(70)}
    )
    wedges = [(s, d, float(rnd.randint(1, 5))) for s, d in wedges if s != d]
    df = spark.createDataFrame(wedges, "src long, dst long, w double")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, iterations=5, weight="w").collect()
    }
    want = _py_weighted_pagerank(wedges, iterations=5)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) <= 2e-9


def test_weighted_unit_weights_equal_unweighted(spark):
    rnd = random.Random(21)
    edges = sorted({(rnd.randrange(15), rnd.randrange(15)) for _ in range(40)})
    df = spark.createDataFrame(edges, "src long, dst long").withColumn(
        "w", F.lit(1.0)
    )
    plain = {r["node"]: r["rank"] for r in G.pagerank(df, iterations=4).collect()}
    weighted = {
        r["node"]: r["rank"]
        for r in G.pagerank(df, iterations=4, weight="w").collect()
    }
    assert plain == weighted


def test_weighted_edge_pulls_rank(spark):
    # 0 splits rank between 1 (weight 9) and 2 (weight 1)
    df = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src long, dst long, w double",
    )
    got = {r["node"]: r["rank"] for r in G.pagerank(df, weight="w").collect()}
    assert got[1] > got[2]


# --- label propagation ---------------------------------------------------------


def _py_lp(edges, seeds, iterations=3):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    lab = {v: seeds.get(v) for v in nodes}
    for _ in range(iterations):
        msgs = {}
        for s, d in edges:
            if lab[s] is not None:
                msgs.setdefault(d, {}).setdefault(lab[s], 0)
                msgs[d][lab[s]] += 1
        new = {}
        for v in nodes:
            if v in seeds:
                new[v] = seeds[v]
            elif v in msgs:
                new[v] = min(msgs[v], key=lambda l: (-msgs[v][l], l))
            else:
                new[v] = lab[v]
        lab = new
    return lab


def _lp(spark, edges, seeds, iterations=3):
    e = _edges_df(spark, edges)
    s = spark.createDataFrame(list(seeds.items()), "node long, label long")
    return {
        r["node"]: r["label"]
        for r in G.label_propagation(e, s, iterations=iterations).collect()
    }


def test_label_propagation_matches_python_reference(spark):
    rnd = random.Random(31)
    edges = sorted({(rnd.randrange(25), rnd.randrange(25)) for _ in range(80)})
    edges = [e for e in edges if e[0] != e[1]]
    seeds = {0: 100, 7: 200, 13: 300}
    assert _lp(spark, edges, seeds) == _py_lp(edges, seeds)


def test_label_propagation_seeds_immutable_and_majority(spark):
    # node 3 hears label 1 twice and label 2 once -> adopts 1;
    # seed node 1 keeps its label despite incoming 2s
    edges = [(1, 3), (2, 3), (4, 3), (5, 1), (6, 1)]
    seeds = {1: 10, 2: 20, 4: 10, 5: 99, 6: 99}
    out = _lp(spark, edges, seeds, iterations=2)
    assert out[3] == 10
    assert out[1] == 10


def test_label_propagation_tiebreak_and_unreached(spark):
    edges = [(1, 3), (2, 3), (8, 9)]
    seeds = {1: 7, 2: 5}
    out = _lp(spark, edges, seeds, iterations=1)
    assert out[3] == 5  # tie 1v1 -> min label
    assert out[9] is None  # only unlabeled upstream
    assert out[8] is None


# --- personalized PageRank -------------------------------------------------------


def _py_ppr(edges, seeds, iterations=5, damping=0.85, dp=9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    eff = [v for v in nodes if v in seeds]
    s = {v: (1.0 / len(eff) if v in eff else 0.0) for v in nodes}
    outdeg = {v: 0 for v in nodes}
    for a, _ in edges:
        outdeg[a] += 1
    rank = {v: round(s[v], dp) for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for a, b in edges:
            contrib[b] += rank[a] / outdeg[a]
        dang = sum(rank[v] for v in nodes if outdeg[v] == 0)
        rank = {
            v: round(
                (1 - damping) * s[v] + damping * (contrib[v] + dang * s[v]), dp
            )
            for v in nodes
        }
    return rank


def test_personalized_pagerank_matches_python_reference(spark):
    rnd = random.Random(17)
    edges = sorted({(rnd.randrange(20), rnd.randrange(20)) for _ in range(60)})
    edges = [e for e in edges if e[0] != e[1]]
    seeds = {0, 3, 7}
    sdf = spark.createDataFrame([(v,) for v in seeds], "node long")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(
            _edges_df(spark, edges), iterations=5, personalize=sdf
        ).collect()
    }
    want = _py_ppr(edges, seeds, iterations=5)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) <= 2e-9


def test_personalized_pagerank_concentrates_near_seeds(spark):
    # two disconnected cycles; seeding one leaves the other at ~0
    c1 = [(i, (i + 1) % 4) for i in range(4)]
    c2 = [(10 + i, 10 + (i + 1) % 4) for i in range(4)]
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(
            _edges_df(spark, c1 + c2), iterations=6, personalize=sdf
        ).collect()
    }
    assert all(got[v] == 0.0 for v in range(10, 14))
    assert got[0] > 0.2
    assert abs(sum(got.values()) - 1.0) < 1e-6  # mass conserved on seeds side


def test_personalized_seeds_absent_from_graph_ignored(spark):
    edges = [(1, 2), (2, 1)]
    sdf = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in G.pagerank(_edges_df(spark, edges), personalize=sdf).collect()
    }
    assert set(got) == {1, 2}
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_personalized_all_seeds_absent_fails_loudly(spark):
    # round-12 advice: an empty EFFECTIVE seed set used to yield NULL
    # ranks silently (1.0/_ns with _ns=0); now the in-plan assert_true
    # fires at first action
    import pytest as _pytest

    edges = [(1, 2), (2, 1)]
    sdf = spark.createDataFrame([(98,), (99,)], "node long")
    with _pytest.raises(Exception, match="no seed node is present"):
        G.pagerank(_edges_df(spark, edges), personalize=sdf).collect()


# --- triangle counting -----------------------------------------------------------


def _py_triangles(edges):
    und = set()
    for a, b in edges:
        if a != b:
            und.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {v: 0 for v in adj}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c counted once, credit all corners
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
    return counts


def test_triangles_matches_python_reference(spark):
    rnd = random.Random(41)
    edges = sorted({(rnd.randrange(20), rnd.randrange(20)) for _ in range(80)})
    got = {
        r["node"]: r["n_triangles"]
        for r in G.triangles(_edges_df(spark, edges)).collect()
    }
    assert got == _py_triangles(edges)


def test_triangles_known_shapes(spark):
    # K4 has 4 triangles; each node sits on 3 of them
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    out = {r["node"]: r["n_triangles"] for r in G.triangles(_edges_df(spark, k4)).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}
    # a path has none; direction/duplicates/self-loops don't matter
    path = [(0, 1), (1, 0), (1, 2), (2, 2)]
    out2 = {r["node"]: r["n_triangles"] for r in G.triangles(_edges_df(spark, path)).collect()}
    assert out2 == {0: 0, 1: 0, 2: 0}


def _py_adamic_adar(edges, max_degree=None, exclude_existing=False):
    import math

    und = set()
    for a, b in edges:
        if a != b:
            und.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for z, ns in adj.items():
        if max_degree is not None and len(ns) > max_degree:
            continue
        ns = sorted(ns)
        for i, x in enumerate(ns):
            for y in ns[i + 1:]:
                cn, aa = out.get((x, y), (0, 0.0))
                out[(x, y)] = (cn + 1, aa + 1.0 / math.log(len(adj[z])))
    if exclude_existing:
        out = {p: v for p, v in out.items() if p not in und}
    return {p: (cn, round(aa, 6)) for p, (cn, aa) in out.items()}


def test_adamic_adar_matches_python_reference(spark):
    rnd = random.Random(47)
    edges = sorted({(rnd.randrange(18), rnd.randrange(18)) for _ in range(70)})
    got = {
        (r["x"], r["y"]): (r["common_neighbors"], r["aa6"])
        for r in G.adamic_adar(_edges_df(spark, edges)).collect()
    }
    want = _py_adamic_adar(edges)
    assert set(got) == set(want)
    for p in want:
        assert got[p][0] == want[p][0]
        assert abs(got[p][1] - want[p][1]) <= 2e-6, (p, got[p], want[p])


def test_adamic_adar_degree_cap_and_exclusion(spark):
    # star center 0 (degree 6) + a shared rare neighbor for (1, 2)
    edges = [(0, v) for v in range(1, 7)] + [(1, 7), (2, 7), (1, 2)]
    full = {
        (r["x"], r["y"]): r["common_neighbors"]
        for r in G.adamic_adar(_edges_df(spark, edges)).collect()
    }
    assert full[(1, 2)] == 2  # via hub 0 AND via rare 7
    capped = {
        (r["x"], r["y"]): (r["common_neighbors"], r["aa6"])
        for r in G.adamic_adar(_edges_df(spark, edges), max_degree=3).collect()
    }
    # hub middle 0 excluded: only the rare-neighbor wedge survives,
    # and its weight uses 7's FULL-graph degree (2)
    import math

    assert capped[(1, 2)] == (1, round(1.0 / math.log(2), 6))
    assert (3, 4) in full and (3, 4) not in capped
    # link-prediction form drops the existing (1, 2) edge
    pred = {
        (r["x"], r["y"])
        for r in G.adamic_adar(
            _edges_df(spark, edges), exclude_existing=True
        ).collect()
    }
    assert (1, 2) not in pred and (3, 4) in pred
    assert _py_adamic_adar(edges, max_degree=3) == {
        (r["x"], r["y"]): (r["common_neighbors"], r["aa6"])
        for r in G.adamic_adar(_edges_df(spark, edges), max_degree=3).collect()
    }


def test_adamic_adar_resource_allocation_index(spark):
    import math

    rnd = random.Random(51)
    edges = sorted({(rnd.randrange(15), rnd.randrange(15)) for _ in range(60)})
    # python RA: same wedges as _py_adamic_adar but 1/deg weights
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for z, ns in adj.items():
        for i, x in enumerate(sorted(ns)):
            for y in sorted(ns)[i + 1:]:
                want[(x, y)] = want.get((x, y), 0.0) + 1.0 / len(adj[z])
    want = {p: round(v, 6) for p, v in want.items()}
    got = {
        (r["x"], r["y"]): r["ra6"]
        for r in G.adamic_adar(_edges_df(spark, edges)).collect()
    }
    assert set(got) == set(want)
    for p in want:
        assert abs(got[p] - want[p]) <= 2e-6, (p, got[p], want[p])
    del math


def _py_clustering(edges):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for v, ns in adj.items():
        d = len(ns)
        t = sum(
            1
            for i, x in enumerate(sorted(ns))
            for y in sorted(ns)[i + 1:]
            if (min(x, y), max(x, y)) in und
        )
        out[v] = (d, t, round(2.0 * t / (d * (d - 1)), 6) if d >= 2 else 0.0)
    return out


def test_clustering_coefficient_matches_python_reference(spark):
    rnd = random.Random(57)
    edges = sorted({(rnd.randrange(20), rnd.randrange(20)) for _ in range(80)})
    # K4 (all lcc 1.0) + a pendant (deg 1 -> lcc 0.0)
    edges += [(i, j) for i in range(30, 34) for j in range(i + 1, 34)]
    edges += [(34, 30)]
    got = {
        r["node"]: (r["deg"], r["n_triangles"], r["lcc6"])
        for r in G.clustering_coefficient(_edges_df(spark, edges)).collect()
    }
    assert got == _py_clustering(edges)
    assert got[31] == (3, 3, 1.0)  # interior K4 corner
    assert got[34][2] == 0.0  # pendant


def _py_k_core(edges, k):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    while True:
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            return deg
        und = {(a, b) for a, b in und if a not in drop and b not in drop}


def test_k_core_fixpoint_matches_python_reference(spark):
    rnd = random.Random(53)
    edges = sorted({(rnd.randrange(22), rnd.randrange(22)) for _ in range(90)})
    for k in (2, 3, 4):
        got = {
            r["node"]: r["core_deg"]
            for r in G.k_core(_edges_df(spark, edges), k=k).collect()
        }
        assert got == _py_k_core(edges, k), k


def test_k_core_pinned_rounds_and_cascade(spark):
    import pytest as _pytest

    # chain 0-1-2-3 hanging off a K4 {10,11,12,13}: 2-core peeling
    # cascades down the chain one round at a time
    k4 = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    chain = [(3, 10), (2, 3), (1, 2), (0, 1)]
    edges = k4 + chain
    fix = {
        r["node"]: r["core_deg"]
        for r in G.k_core(_edges_df(spark, edges), k=2).collect()
    }
    assert set(fix) == {10, 11, 12, 13}
    # one pinned round only peels the chain's current leaf
    r1 = {
        r["node"]
        for r in G.k_core(_edges_df(spark, edges), k=2, rounds=1).collect()
    }
    assert 0 not in r1 and 1 in r1
    # enough pinned rounds == fixpoint (the oracle-replayable form)
    r6 = {
        r["node"]: r["core_deg"]
        for r in G.k_core(_edges_df(spark, edges), k=2, rounds=6).collect()
    }
    assert r6 == fix
    with _pytest.raises(ValueError, match="k must"):
        G.k_core(_edges_df(spark, edges), k=0)


def test_k_core_pinned_rounds_materialize_nothing_at_build_time(spark):
    """Pinned rounds are lazy checkpoints that read nothing back: building
    k_core with 4 rounds runs as many checkpoint-materializing jobs as
    building it with 1 round — the edge list's one eager checkpoint —
    so no round is materialized or counted before the caller's action.
    (Each lazy checkpoint still lets AQE run its round's query stages
    when the checkpoint is built; those jobs are not counted here.)"""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)])

    def build_jobs(rounds):
        group = f"k_core_build_rounds_{rounds}"
        sc.setJobGroup(group, "")
        try:
            G.k_core(edges, 2, rounds=rounds)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        names = [
            store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)
        ]
        return sum("checkpoint" in n.lower() for n in names)

    assert build_jobs(1) == build_jobs(4) == 1


def _py_core_number(edges):
    """Pure-Python Batagelj-Zaveršnik: peel at increasing k; a node
    dropped while peeling at threshold k has core number k-1. Dropping
    iterates over the SURVIVING NODE SET, not the degree dict (round-14
    advice): a node can lose every incident edge to neighbor drops
    while its own pre-drop degree was still >= k (a pure star's hub),
    and it must then peel out at degree 0 with core k-1 — exactly the
    operator's prev_nodes anti-join rule."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {v for e in und for v in e}
    core = {}
    k = 2
    while und:
        while True:
            deg = {}
            for a, b in und:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            drop = {v for v in nodes if deg.get(v, 0) < k}
            if not drop:
                break
            for v in drop:
                core[v] = k - 1
            nodes -= drop
            und = {
                (a, b) for a, b in und if a not in drop and b not in drop
            }
        if und:
            k += 1
    return core


def test_core_number_pure_star_hub(spark):
    """A pure star: leaves drop at k=2 (degree 1), which strands the
    hub at degree 0 while its pre-drop degree was 5 — both engines and
    the python reference must give EVERY node core 1 (the shape the
    round-14 advice flagged as latent in the old reference helper)."""
    edges = [(0, v) for v in range(1, 6)]
    ref = _py_core_number(edges)
    assert ref == {v: 1 for v in range(6)}
    got = {
        r["node"]: r["core"]
        for r in G.core_number(_edges_df(spark, edges)).collect()
    }
    assert got == ref


def test_core_number_fixpoint_matches_python_reference(spark):
    rnd = random.Random(59)
    edges = sorted({(rnd.randrange(22), rnd.randrange(22)) for _ in range(90)})
    # plus a hub-heavy star+clique so levels actually stack
    edges += [(100, v) for v in range(101, 113)]
    edges += [(i, j) for i in range(108, 113) for j in range(i + 1, 113)]
    got = {
        r["node"]: r["core"]
        for r in G.core_number(_edges_df(spark, edges)).collect()
    }
    assert got == _py_core_number(edges)


def test_core_number_pinned_vs_fixpoint_and_k_core_consistency(spark):
    # chain hanging off a K4: pinned with generous rounds == fixpoint,
    # and {core >= k} == the k_core(k) fixpoint survivor set
    k4 = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    chain = [(3, 10), (2, 3), (1, 2), (0, 1)]
    edges = k4 + chain
    fix = {
        r["node"]: r["core"]
        for r in G.core_number(_edges_df(spark, edges)).collect()
    }
    assert fix == _py_core_number(edges)
    pinned = {
        r["node"]: r["core"]
        for r in G.core_number(
            _edges_df(spark, edges), k_max=4, rounds_per_k=6
        ).collect()
    }
    assert pinned == fix
    survivors_k2 = set(
        r["node"] for r in G.k_core(_edges_df(spark, edges), k=2).collect()
    )
    assert {v for v, c in fix.items() if c >= 2} == survivors_k2
    with pytest.raises(ValueError, match="k_max"):
        G.core_number(_edges_df(spark, edges), k_max=1)
    with pytest.raises(ValueError, match="requires k_max"):
        G.core_number(_edges_df(spark, edges), rounds_per_k=2)


def test_core_number_oracle_replay_matches(spark):
    """The pinned Spark schedule and the DuckDB CTE unroll must agree
    node-for-node (all-integer exact parity)."""
    import duckdb

    rnd = random.Random(61)
    edges = sorted({(rnd.randrange(18), rnd.randrange(18)) for _ in range(70)})
    edges = [e for e in edges if e[0] != e[1]]
    got = {
        (r["node"], r["core"])
        for r in G.core_number(
            _edges_df(spark, edges), k_max=4, rounds_per_k=2
        ).collect()
    }
    values = ", ".join(
        f"({min(a, b)}, {max(a, b)})" for a, b in sorted(set(edges))
    )
    sql = (
        "WITH raw_e(a, b) AS (VALUES " + values + "),\n"
        + G.core_number_oracle_ctes("raw_e", 4, 2, "cn")
        + "\nSELECT node, core FROM cn_out"
    )
    want = {(int(n), int(c)) for n, c in duckdb.sql(sql).fetchall()}
    assert got == want


def test_triangles_degree_orientation_matches_canonical(spark):
    """Round-12 verdict task #4: the degree-oriented wedge join (the
    production path — Σ outdeg² ≤ |E|^1.5 intermediate) must count
    exactly what the canonical a<b<c node-iterator does, including on
    a hub-heavy star+clique graph where orientation matters most."""
    import pytest as _pytest

    rnd = random.Random(43)
    edges = sorted({(rnd.randrange(25), rnd.randrange(25)) for _ in range(120)})
    # hub: node 0 connected to everything + a clique among 20..24
    edges += [(0, v) for v in range(1, 25)]
    edges += [(i, j) for i in range(20, 25) for j in range(i + 1, 25)]
    deg = {
        r["node"]: r["n_triangles"]
        for r in G.triangles(_edges_df(spark, edges), orient="degree").collect()
    }
    can = {
        r["node"]: r["n_triangles"]
        for r in G.triangles(_edges_df(spark, edges), orient="canonical").collect()
    }
    assert deg == can == _py_triangles(edges)
    with _pytest.raises(ValueError, match="orient"):
        G.triangles(_edges_df(spark, edges), orient="random")


# --- k-truss (round 15) -----------------------------------------------------


def _py_k_truss(edges, k):
    """Pure-Python truss peel: iterate {support over survivors, drop
    < k-2} to fixpoint; returns {(a, b): final support}."""
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}

    def support(es):
        nbrs = {}
        for a, b in es:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        return {
            (a, b): len(nbrs[a] & nbrs[b])
            for a, b in es
        }

    while True:
        sup = support(und)
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return sup
        und -= drop
        if not und:
            return {}


def test_k_truss_fixpoint_matches_python_reference(spark):
    rnd = random.Random(43)
    edges = sorted({(rnd.randrange(18), rnd.randrange(18)) for _ in range(70)})
    edges = [(a, b) for a, b in edges if a != b]
    # plus a K5 so a 4/5-truss definitely survives
    edges += [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    for k in (3, 4, 5):
        want = _py_k_truss(edges, k)
        got = {
            (r["a"], r["b"]): r["support"]
            for r in G.k_truss(_edges_df(spark, edges), k=k).collect()
        }
        assert got == want, f"k={k}"
    # degree == canonical orientation
    got_c = {
        (r["a"], r["b"]): r["support"]
        for r in G.k_truss(
            _edges_df(spark, edges), k=4, orient="canonical"
        ).collect()
    }
    assert got_c == _py_k_truss(edges, 4)


def test_k_truss_cascade_and_pinned_rounds(spark):
    """A triangle chained to a K4 via one shared edge: at k=3 every
    edge is in >= 1 triangle round 1, so nothing peels; at k=4 the
    pendant triangle's edges (support 1) peel first, which then
    drops the K4-adjacent support — the cascade needs > 1 round, so
    pinned rounds=1 != fixpoint but enough pinned rounds == fixpoint
    (the oracle-replayable contract)."""
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    pendant = [(3, 10), (2, 10)]  # triangle {2, 3, 10}
    edges = k4 + pendant
    fix4 = {
        (r["a"], r["b"])
        for r in G.k_truss(_edges_df(spark, edges), k=4).collect()
    }
    assert fix4 == set(k4)  # the K4 is the 4-truss; the pendant peels
    r1 = {
        (r["a"], r["b"])
        for r in G.k_truss(_edges_df(spark, edges), k=4, rounds=1).collect()
    }
    r3 = {
        (r["a"], r["b"])
        for r in G.k_truss(_edges_df(spark, edges), k=4, rounds=3).collect()
    }
    assert r3 == fix4
    assert r1 >= fix4  # pinned-short keeps a superset (monotone peel)
    fix3 = {
        (r["a"], r["b"]): r["support"]
        for r in G.k_truss(_edges_df(spark, edges), k=3).collect()
    }
    assert set(fix3) == set(k4) | set(pendant)  # every edge closes a triangle
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must"):
        G.k_truss(_edges_df(spark, edges), k=1)
    with _pytest.raises(ValueError, match="rounds"):
        G.k_truss(_edges_df(spark, edges), k=3, rounds=0)


def test_k_truss_oracle_replay_matches(spark):
    """The pinned Spark schedule and the DuckDB CTE unroll must agree
    edge-for-edge including final supports (all-integer parity)."""
    import duckdb

    rnd = random.Random(77)
    edges = sorted({(rnd.randrange(14), rnd.randrange(14)) for _ in range(45)})
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(50 + i, 50 + j) for i in range(4) for j in range(i + 1, 4)]
    got = {
        (r["a"], r["b"]): r["support"]
        for r in G.k_truss(
            _edges_df(spark, edges), k=3, rounds=2, orient="canonical"
        ).collect()
    }
    vals = ", ".join(
        f"({a}, {b})"
        for a, b in sorted({(min(a, b), max(a, b)) for a, b in edges})
    )
    sql = (
        "WITH base(a, b) AS (VALUES " + vals + "),\n"
        + G.k_truss_oracle_ctes("base", k=3, rounds=2)
        + "\nSELECT a, b, support FROM kt_out"
    )
    con = duckdb.connect()
    want = {(a, b): s for a, b, s in con.sql(sql).fetchall()}
    assert got == want
