"""Seeded request sequences for the three benchmark workloads.

A sequence is a list of rounds.  Each round issues every template (or
algorithm) of the workload exactly once, in a seeded order, with
literals (or parameters) drawn from small seeded domains.  Whole rounds
keep the mix of any run the same whatever the seed, so a seed changes
the order and the literals but not the kind of work measured.  In the
Cypher workload a quarter of each round, the same read templates for
every seed, reuses the seed's hot bindings, so a known share of requests
are exact repeats (``repeat_share``), which is what the session plan
cache serves.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


@dataclass(frozen=True)
class Template:
    """One Cypher request shape and its DuckDB SQL twin.

    ``cypher`` and ``sql`` are ``str.format`` patterns over the same
    literal names; ``domains`` lists the values each literal may take.
    ``ordered`` says whether the answer's row order is part of the
    contract (ORDER BY ... LIMIT)."""
    name: str
    cypher: str
    sql: str
    domains: dict
    ordered: bool = False
    write: bool = False


# Read templates: scan+filter, 1-3 hop expands, OPTIONAL MATCH, EXISTS,
# var-length, ORDER BY/LIMIT, aggregation, WITH pipelines, shortestPath.
# Write templates (2 of 16, one request in eight): SET ... WITH ... MATCH
# and CREATE ... DETACH DELETE ... MATCH.  Writes return a new graph
# version and never change the session's catalog graph, so every request
# is answered against the same base tables.
CYPHER_TEMPLATES = [
    Template(
        "scan_filter",
        "MATCH (c:Customer) WHERE c.c_acctbal > {bal} "
        "AND c.c_mktsegment = '{seg}' "
        "RETURN c.c_name AS name, c.c_acctbal AS bal",
        "SELECT c_name, c_acctbal FROM customer "
        "WHERE c_acctbal > {bal} AND c_mktsegment = '{seg}'",
        {"bal": [1000.0, 9000.0], "seg": SEGMENTS[:2]}),
    Template(
        "expand_1hop",
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
        "WHERE n.n_name = '{nation}' "
        "RETURN count(*) AS n, round(avg(c.c_acctbal), 2) AS avg_bal",
        "SELECT count(*), round(avg(c_acctbal), 2) FROM customer "
        "JOIN nation ON n_nationkey = c_nationkey WHERE n_name = '{nation}'",
        {"nation": ["NATION_0", "NATION_7", "NATION_13"]}),
    Template(
        "expand_2hop",
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->"
        "(r:Region) WHERE r.r_name = '{region}' "
        "RETURN n.n_name AS nation, count(*) AS n_cust ORDER BY nation",
        "SELECT n_name, count(*) FROM customer "
        "JOIN nation ON n_nationkey = c_nationkey "
        "JOIN region ON r_regionkey = n_regionkey "
        "WHERE r_name = '{region}' GROUP BY n_name ORDER BY n_name",
        {"region": REGIONS[:3]}, ordered=True),
    Template(
        "expand_3hop",
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
        "WHERE c.c_mktsegment = '{seg}' AND p.p_size < {size} "
        "RETURN p.p_type AS type, count(*) AS n, "
        "round(sum(l.l_quantity), 2) AS qty",
        "SELECT p_type, count(*), round(sum(l_quantity), 2) FROM customer "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON p_partkey = l_partkey "
        "WHERE c_mktsegment = '{seg}' AND p_size < {size} GROUP BY p_type",
        {"seg": SEGMENTS[2:4], "size": [10, 30]}),
    Template(
        "optional_match",
        "MATCH (c:Customer) WHERE c.c_acctbal > {bal} "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
        "RETURN count(DISTINCT c) AS n_cust, count(o) AS n_orders",
        "SELECT count(DISTINCT c_custkey), count(o_orderkey) FROM customer "
        "LEFT JOIN orders ON o_custkey = c_custkey WHERE c_acctbal > {bal}",
        {"bal": [5000.0, 9500.0]}),
    Template(
        "exists_pattern",
        "MATCH (c:Customer) WHERE c.c_mktsegment = '{seg}' "
        "AND exists((c)-[:PLACED]->(:Order)) RETURN count(*) AS n",
        "SELECT count(*) FROM customer c WHERE c_mktsegment = '{seg}' "
        "AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
        {"seg": SEGMENTS[1:4]}),
    Template(
        "not_exists_pattern",
        "MATCH (o:Order) WHERE o.o_orderstatus = '{st}' "
        "AND NOT exists((o)-[:CONTAINS]->(:Part)) RETURN count(*) AS n",
        "SELECT count(*) FROM orders o WHERE o_orderstatus = '{st}' "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey)",
        {"st": ["F", "O", "P"]}),
    Template(
        "var_length_1_2",
        "MATCH (c:Customer)-[*1..2]->(x) WHERE c.c_acctbal > {bal} "
        "RETURN count(*) AS n",
        # paths from a customer: its nation, its orders (1 hop), the
        # nation's region and the orders' line items (2 hops)
        "SELECT 2 * (SELECT count(*) FROM customer WHERE c_acctbal > {bal}) "
        "+ (SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey"
        " WHERE c_acctbal > {bal}) "
        "+ (SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey"
        " JOIN lineitem ON l_orderkey = o_orderkey WHERE c_acctbal > {bal})",
        {"bal": [8000.0, 9000.0]}),
    Template(
        "order_limit",
        "MATCH (c:Customer) WHERE c.c_mktsegment = '{seg}' "
        "RETURN c.c_name AS name, c.c_acctbal AS bal "
        "ORDER BY bal DESC, name LIMIT {k}",
        "SELECT c_name, c_acctbal FROM customer WHERE c_mktsegment = '{seg}' "
        "ORDER BY c_acctbal DESC, c_name LIMIT {k}",
        {"seg": SEGMENTS[3:], "k": [5, 10]}, ordered=True),
    Template(
        "agg_lineitem",
        "MATCH (o:Order)-[l:CONTAINS]->(p:Part) "
        "WHERE l.l_returnflag = '{flag}' "
        "RETURN l.l_linestatus AS status, count(*) AS n, "
        "round(sum(l.l_quantity), 2) AS qty, "
        "round(avg(l.l_extendedprice), 2) AS avg_price",
        "SELECT l_linestatus, count(*), round(sum(l_quantity), 2), "
        "round(avg(l_extendedprice), 2) FROM lineitem "
        "WHERE l_returnflag = '{flag}' GROUP BY l_linestatus",
        {"flag": ["A", "N", "R"]}),
    Template(
        "agg_orders_by_date",
        "MATCH (o:Order) WHERE o.o_orderdate >= date('{day}') "
        "RETURN o.o_orderpriority AS prio, count(*) AS n, "
        "round(avg(o.o_totalprice), 2) AS avg_price ORDER BY prio",
        "SELECT o_orderpriority, count(*), round(avg(o_totalprice), 2) "
        "FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '{day}' "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        {"day": ["1996-01-01", "1999-01-01"]}, ordered=True),
    Template(
        "top_suppliers",
        "MATCH (p:Part)-[:SUPPLIED_BY]->(s:Supplier) "
        "WHERE p.p_brand = '{brand}' "
        "RETURN s.s_name AS supplier, count(*) AS n "
        "ORDER BY n DESC, supplier LIMIT 5",
        "SELECT s_name, count(*) AS n FROM lineitem "
        "JOIN part ON p_partkey = l_partkey "
        "JOIN supplier ON s_suppkey = l_suppkey WHERE p_brand = '{brand}' "
        "GROUP BY s_name ORDER BY n DESC, s_name LIMIT 5",
        {"brand": ["Brand#1", "Brand#2", "Brand#3"]}, ordered=True),
    Template(
        "with_pipeline",
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WHERE o.o_orderpriority = '{prio}' "
        "WITH c, count(o) AS n_orders WHERE n_orders > {m} "
        "RETURN c.c_mktsegment AS seg, count(*) AS n_cust, "
        "max(n_orders) AS max_orders",
        "SELECT c_mktsegment, count(*), max(n) FROM (SELECT c_custkey, "
        "c_mktsegment, count(*) AS n FROM customer "
        "JOIN orders ON o_custkey = c_custkey "
        "WHERE o_orderpriority = '{prio}' GROUP BY c_custkey, c_mktsegment) "
        "WHERE n > {m} GROUP BY c_mktsegment",
        {"prio": ["1-URGENT", "5-LOW"], "m": [1, 2]}),
    Template(
        "shortest_path",
        "MATCH p = shortestPath((a:Nation)-[:IN_REGION*..2]-(b:Nation)) "
        "WHERE a.n_name = '{nation}' AND b.n_name <> a.n_name "
        "RETURN b.n_name AS b_name, length(p) AS len",
        # sibling nations meet in their region: every pair is 2 hops
        "SELECT b.n_name, 2 FROM nation a JOIN nation b "
        "ON a.n_regionkey = b.n_regionkey AND a.n_name <> b.n_name "
        "WHERE a.n_name = '{nation}'",
        {"nation": ["NATION_1", "NATION_12", "NATION_23"]}),
    Template(
        "set_rematch",
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) WHERE r.r_name = '{region}' "
        "SET n.tagged = true WITH count(*) AS tagged "
        "MATCH (m:Nation) WHERE m.tagged = true "
        "RETURN tagged, count(*) AS n_tagged",
        "SELECT count(*), count(*) FROM nation "
        "JOIN region ON r_regionkey = n_regionkey WHERE r_name = '{region}'",
        {"region": REGIONS}, write=True),
    Template(
        "create_delete",
        "MATCH (r:Region) WHERE r.r_name <> '{region}' "
        "CREATE (c:Colony {{cname: r.r_name}})-[:OF]->(r) "
        "WITH count(*) AS created "
        "MATCH (c:Colony)-[:OF]->(r:Region) WHERE r.r_name STARTS WITH 'A' "
        "DETACH DELETE c WITH created, count(*) AS deleted "
        "MATCH (c2:Colony) RETURN created, deleted, count(*) AS remaining",
        "SELECT count(*), count(*) FILTER (WHERE r_name LIKE 'A%'), "
        "count(*) FILTER (WHERE r_name NOT LIKE 'A%') FROM region "
        "WHERE r_name <> '{region}'",
        {"region": REGIONS}, write=True),
]

TEMPLATES_BY_NAME = {t.name: t for t in CYPHER_TEMPLATES}


@dataclass(frozen=True)
class AlgoCall:
    """One ``functions.graph_algos`` call: algorithm name + keyword args.

    ``graph`` names the edge set: ``undirected`` is the co-purchase pair
    list (src < dst), ``directed`` the same pairs with a seeded-hash
    orientation, so the directed algorithms see cycles."""
    algo: str
    params: tuple = field(default_factory=tuple)
    graph: str = "undirected"

    @property
    def kwargs(self) -> dict:
        return dict(self.params)


# Parameter domains per algorithm, sized so one call is a few seconds at
# sf0.01 on four cores.  The loops are stage-bound there, so the
# superstep count, not the data, sets the cost: the seeded parameters
# (k, the source node, louvain's rounds on the costliest call) leave the
# round's median call unchanged, and the fixed iteration counts keep it
# so across seeds.
ITERATIVE_DOMAINS = {
    "pagerank": ("undirected", {"iterations": [2]}),
    "k_core": ("undirected", {"k": [6, 8, 10]}),
    "label_propagation": ("undirected", {"iterations": [2]}),
    "strongly_connected_components": ("directed", {}),
    "louvain": ("undirected", {"rounds": [1, 2]}),
    "weighted_shortest_paths": ("directed", {"max_iters": [3],
                                             "source": [1, 2, 3]}),
}
# graph-bulk keeps one value per parameter: its few long calls make the
# run's median an order statistic of three, so only the order is seeded.
BULK_DOMAINS = {
    "pagerank": ("undirected", {"iterations": [2]}),
    "label_propagation": ("undirected", {"iterations": [1]}),
    "k_core": ("undirected", {"k": [14]}),
}

ALGOS = tuple(ITERATIVE_DOMAINS)
WORKLOADS = ("cypher-interactive", "graph-iterative", "graph-bulk")


@dataclass(frozen=True)
class CypherRequest:
    template: str
    literals: tuple

    @property
    def text(self) -> str:
        return TEMPLATES_BY_NAME[self.template].cypher.format(
            **dict(self.literals))

    @property
    def kind(self) -> str:
        return self.template


@dataclass(frozen=True)
class AlgoRequest:
    call: AlgoCall

    @property
    def kind(self) -> str:
        return self.call.algo


def _draw(rng: random.Random, domains: dict) -> tuple:
    return tuple((k, rng.choice(v)) for k, v in sorted(domains.items()))


def _cold(rng: random.Random, t: Template, hot: CypherRequest):
    """A fresh binding of ``t`` other than its hot one."""
    while True:
        req = CypherRequest(t.name, _draw(rng, t.domains))
        if req != hot:
            return req


def _algo_domains(workload: str) -> dict:
    return ITERATIVE_DOMAINS if workload == "graph-iterative" \
        else BULK_DOMAINS


# Share of each Cypher round that reuses the template's hot binding.  A
# quarter keeps plan-cache hits a minority, so the median request is a
# planned one whatever the seed.  Which templates are hot rotates over
# the read templates by round, not by seed: a hit saves far more on
# shortestPath than on a scan, so a seeded choice moved whole-run
# throughput by a quarter between seeds.
HOT_SHARE = 0.25
# Loop-length parameters; the warm-up runs every loop once.
ITERATION_PARAMS = ("iterations", "rounds", "max_iters")


def rounds(workload: str, seed: int, n_rounds: int) -> list[list]:
    """``n_rounds`` seeded rounds of requests for ``workload``.

    Cypher rounds: every template once; ``HOT_SHARE`` of them, read
    templates in a fixed rotation, reuse the template's hot binding (a
    plan-cache hit, see ``warmup``), the rest draw other literals."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}/{seed}")
    out = []
    if workload == "cypher-interactive":
        hot = hot_bindings(seed)
        n_hot = round(HOT_SHARE * len(CYPHER_TEMPLATES))
        reads = [i for i, t in enumerate(CYPHER_TEMPLATES) if not t.write]
        for k in range(n_rounds):
            hot_now = {reads[(k * n_hot + j) % len(reads)]
                       for j in range(n_hot)}
            rnd = [hot[t.name] if i in hot_now
                   else _cold(rng, t, hot[t.name])
                   for i, t in enumerate(CYPHER_TEMPLATES)]
            rng.shuffle(rnd)
            out.append(rnd)
        return out
    for _ in range(n_rounds):
        rnd = [AlgoRequest(AlgoCall(a, _draw(rng, d), g))
               for a, (g, d) in _algo_domains(workload).items()]
        rng.shuffle(rnd)
        out.append(rnd)
    return out


def hot_bindings(seed: int) -> dict:
    """Template name -> the seed's hot Cypher request for it."""
    rng = random.Random(f"hot/{seed}")
    return {t.name: CypherRequest(t.name, _draw(rng, t.domains))
            for t in CYPHER_TEMPLATES}


def warmup(workload: str, seed: int) -> list:
    """Requests issued before timing.  Cypher: every hot binding (the
    runner then plans the read ones once more, so the plan cache, which
    admits a query on its second sighting, serves them in the timed
    round).  Graphs: every algorithm once, one superstep, first value of
    the other domains."""
    if workload == "cypher-interactive":
        return list(hot_bindings(seed).values())
    return [AlgoRequest(AlgoCall(a, tuple(
        (k, 1 if k in ITERATION_PARAMS else v[0])
        for k, v in sorted(d.items())), g))
        for a, (g, d) in _algo_domains(workload).items()]


def repeat_share(earlier: list, requests: list) -> float:
    """Share of ``requests`` identical to one issued before it, in
    ``earlier`` (the warm-up) or earlier in ``requests``."""
    seen, rep = set(earlier), 0
    for r in requests:
        rep += r in seen
        seen.add(r)
    return rep / len(requests) if requests else 0.0
