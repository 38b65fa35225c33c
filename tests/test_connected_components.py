"""``operators.dedup.connected_components`` against a plain-Python
union-find, plus the two execution contracts the label propagation
keeps: the edge frame is evaluated once per call, and ``max_iter``
counts every propagation round, the seeded one included."""

import random

from pyspark.sql import functions as F

from oracle_cassandra_migrator_spark.operators.dedup import (
    connected_components, dedup_decisions)


def _union_find_labels(edges):
    """node -> minimum node of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _random_graph(seed, path_nodes=21):
    """Disjoint pieces over shuffled ids: a path (diameter
    ``path_nodes - 1``) whose minimum sits at one end, the most rounds
    label propagation can need; cycles, a random forest, a dense random
    component, duplicate and reversed edges, and self-loops (one of
    them an isolated node)."""
    rng = random.Random(seed)
    ids = list(range(1000, 1400))
    rng.shuffle(ids)
    pool = iter(ids)
    edges = []
    path = sorted(next(pool) for _ in range(path_nodes))
    edges += list(zip(path, path[1:]))
    for size in (3, 5, 8):
        cyc = [next(pool) for _ in range(size)]
        edges += list(zip(cyc, cyc[1:] + cyc[:1]))
    forest = [next(pool) for _ in range(60)]
    for i in range(1, len(forest)):
        if rng.random() < 0.9:
            edges.append((forest[rng.randrange(i)], forest[i]))
    dense = [next(pool) for _ in range(15)]
    edges += [(rng.choice(dense), rng.choice(dense)) for _ in range(30)]
    edges += [(b, a) for a, b in rng.sample(edges, 10)]   # reversed
    edges += rng.sample(edges, 10)                        # duplicated
    edges += [(x, x) for x in rng.sample(forest, 3)]      # self-loops
    edges.append((next(pool),) * 2)                       # isolated loop
    rng.shuffle(edges)
    return edges


def test_matches_union_find_on_random_graph(spark):
    edges = _random_graph(3)
    df = spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find_labels(edges)


def test_string_ids_match_union_find(spark):
    """STRING ids order as strings ("1010" < "999"): the labels keep the
    id type, which is what dedup_decisions(cast_bigint=False) relies on."""
    edges = [(str(a), str(b)) for a, b in _random_graph(5, path_nodes=6)]
    edges += [("999", "1010"), ("uuid-b", "uuid-a")]
    df = spark.createDataFrame(edges, "id_a STRING, id_b STRING")
    comp = connected_components(df, src="id_a", dst="id_b")
    want = _union_find_labels(edges)
    assert {r.node: r.component for r in comp.collect()} == want
    docs = spark.createDataFrame([("uuid-b",), ("solo",)], "doc STRING")
    got = {r.doc: (r.cluster_rep, r.is_kept) for r in dedup_decisions(
        docs, comp, "doc", cast_bigint=False).collect()}
    assert got == {"uuid-b": ("uuid-a", False), "solo": ("solo", True)}


def test_empty_edge_frame(spark):
    df = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert connected_components(df).collect() == []


def test_max_iter_counts_the_seeded_round(spark):
    """A 4-node path: one round of min(self, neighbours) moves every
    label at most one hop, two rounds at most two."""
    df = spark.createDataFrame([(4, 3), (3, 2), (2, 1)],
                               "src BIGINT, dst BIGINT")

    def labels(max_iter):
        return {r.node: r.component for r in
                connected_components(df, max_iter=max_iter).collect()}

    assert labels(1) == {1: 1, 2: 1, 3: 2, 4: 3}
    assert labels(2) == {1: 1, 2: 1, 3: 1, 4: 2}


def test_edges_are_evaluated_once(spark):
    """A row-counting UDF on the edge frame sees each edge once per
    call: the symmetric edge list comes from one pass over the pairs
    (a self-union would run the whole pair pipeline twice)."""
    edges = [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 7)]
    seen = spark.sparkContext.accumulator(0)

    def count_row(x):
        seen.add(1)
        return x

    counted = F.udf(count_row, "bigint").asNondeterministic()
    df = (spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
          .select(counted("src").alias("src"), "dst"))
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _union_find_labels(edges)
    assert seen.value == len(edges)
