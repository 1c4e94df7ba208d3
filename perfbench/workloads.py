"""The benchmark's four workloads.

Each workload yields operations (``Op``): a name, whether it writes, a
``prepare`` callable that makes the engine call and returns the DataFrame to
collect, and a ``check`` callable that says whether the collected rows are
the right answer.  Expected answers come from DuckDB over the same parquet
files (``__spark_entry__.oracle_sql()`` twins for the whole-graph queries
and the curation operators) or, for writes, from a shadow model the
benchmark keeps itself.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np


class Op(NamedTuple):
    kind: str
    write: bool
    prepare: Callable  # () -> DataFrame
    check: Callable  # (rows) -> bool


# ------------------------------------------------------------ normalising
# Same normal form as tests/test_oracle.py: columns by name, rows sorted
# unless the statement orders them, floats equal to 6 decimal places.  Floats
# are compared with a tolerance of one unit in the 6th place, not rounded
# and compared exactly: some statements round a column themselves, and on a
# rounding tie Spark's round() and DuckDB's ROUND() can land one unit apart
# (0.786562 and 0.786563 for the same quality score).
FLOAT_TOL = 1.5e-6


def _norm_val(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_val(x) for x in v)
    return v


def _rounded(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, tuple):
        return tuple(_rounded(x) for x in v)
    return v


def norm_rows(cols, rows, ordered: bool = False) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    if not ordered:
        out.sort(key=lambda t: tuple((x is None, str(_rounded(x))) for x in t))
    return out


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    if (isinstance(a, float) or isinstance(b, float)) and all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in (a, b)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=FLOAT_TOL)
    return a == b


def same_rows(got: list, want: list) -> bool:
    return len(got) == len(want) and all(map(_same, got, want))


def engine_rows(rows, ordered: bool = False) -> list:
    if not rows:
        return []
    return norm_rows(list(rows[0].__fields__), rows, ordered)


def expect_rows(cols, rows, ordered: bool = False) -> Callable:
    want = norm_rows(cols, rows, ordered)
    return lambda got: same_rows(engine_rows(got, ordered), want)


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float = 1.1):
    """``size`` keys out of ``range(n_keys)``, Zipf-skewed by rank; which key
    holds which rank is itself drawn from ``rng``."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    return rng.permutation(n_keys)[ranks]


def oracle_check(duck, sql: str) -> Callable:
    rel = duck.sql(sql)
    return expect_rows(rel.columns, rel.fetchall())


class Workload:
    """Common shape: ``solve`` computes expected answers (untimed, before
    Spark starts), ``build`` makes the engine state (timed, once),
    ``warmup_op(i)`` for ``i < warmup_count`` touches every statement shape
    once (timed), ``op`` is a client's n-th request.  ``cycle`` > 0 means
    each client issues whole cycles of that many operations, and
    ``cycle_s`` is the typical time of one warm cycle on a 4-vCPU VM, from
    which ``--seconds`` sets the number of cycles a run measures.  After the
    warm-up pass every client also makes ``warm_ops`` requests before the
    measured window, so the coldest executions stay out of it."""

    clients = 1
    cycle = 0
    cycle_s = 0.0
    warm_ops = 0
    builds_graph = True
    read_only = True

    def __init__(self, data_dir: str, seed: int, counts: dict, entry, duck):
        self.spark = None  # set once the session is up
        self.data_dir = data_dir
        self.seed = seed
        self.counts = counts
        self.entry = entry
        self.duck = duck

    def build(self) -> None:
        from age_spark import AgeSession
        from age_spark.demo import build_tpch_graph

        self.age = AgeSession(self.spark, **self.session_args())
        self.graph = build_tpch_graph(self.spark, self.data_dir)

    def session_args(self) -> dict:
        return {}

    def solve(self) -> None:
        raise NotImplementedError

    def warmup_op(self, i: int) -> Op:
        raise NotImplementedError

    def op(self, client: int, n: int) -> Op:
        raise NotImplementedError


# ------------------------------------------------------------ point_lookup
LOOKUPS = {
    # name: (statement with one {} slot, key kind, rows ordered)
    "customer_orders": (
        "MATCH (c:Customer {{name: {}}})-[:PLACED]->(o:Order) "
        "RETURN o.totalprice AS totalprice, o.orderpriority AS priority "
        "ORDER BY totalprice DESC, priority LIMIT 3", "customer", True),
    "customer_region": (
        "MATCH (c:Customer {{name: {}}})-[:FROM_NATION]->(n:Nation)"
        "-[:IN_REGION]->(r:Region) RETURN n.name AS nation, r.name AS region",
        "customer", False),
    "order_parts": (
        "MATCH (o:Order)-[l:LINE]->(p:Part) WHERE id(o) = {} "
        "RETURN p.name AS part, l.quantity AS quantity", "order", False),
    "order_customer": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE id(o) = {} "
        "RETURN c.name AS customer, c.mktsegment AS segment", "order", False),
}
LOOKUP_NAMES = list(LOOKUPS)

# DuckDB answers for a batch of keys, as (key, *columns) rows
LOOKUP_SQL = {
    "customer_orders": (
        ["totalprice", "priority"],
        "SELECT c_custkey, o_totalprice, o_orderpriority FROM customer "
        "JOIN orders ON o_custkey = c_custkey JOIN keys ON c_custkey = k "
        "QUALIFY row_number() OVER (PARTITION BY c_custkey "
        "ORDER BY o_totalprice DESC, o_orderpriority) <= 3 "
        "ORDER BY c_custkey, o_totalprice DESC, o_orderpriority"),
    "customer_region": (
        ["nation", "region"],
        "SELECT c_custkey, n_name, r_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey JOIN keys ON c_custkey = k"),
    "order_parts": (
        ["part", "quantity"],
        "SELECT l_orderkey, p_name, l_quantity FROM lineitem "
        "JOIN part ON l_partkey = p_partkey JOIN keys ON l_orderkey = k"),
    "order_customer": (
        ["customer", "segment"],
        "SELECT o_orderkey, c_name, c_mktsegment FROM orders "
        "JOIN customer ON o_custkey = c_custkey JOIN keys ON o_orderkey = k"),
}


def customer_name(key: int) -> str:
    return f"Customer#{key:09d}"


class LookupStatements:
    """Builds point-lookup statements (inline literal or ``$param``) and
    their DuckDB answers."""

    def __init__(self, duck, counts: dict):
        self.duck = duck
        self.n_keys = {"customer": counts["customer"], "order": counts["orders"]}
        self.answers: dict = {}

    def bind(self, graph) -> None:
        """Order ids in statements are graph ids: label id, then order key."""
        from age_spark.catalog import ENTRY_ID_BITS

        self.order_base = graph.meta.label("Order").label_id << ENTRY_ID_BITS

    def draw(self, rng: np.random.Generator, size: int, start: int = 0) -> list:
        """``size`` requests (template, use_param, key) with Zipf-skewed keys.
        Templates rotate, literal then ``$param``, from position ``start``,
        so every run sends the same mix."""
        keys = {kind: zipf_keys(rng, n, size) for kind, n in self.n_keys.items()}
        out = []
        for i in range(size):
            j = (start + i) % (2 * len(LOOKUP_NAMES))
            name = LOOKUP_NAMES[j % len(LOOKUP_NAMES)]
            out.append((name, j >= len(LOOKUP_NAMES), int(keys[LOOKUPS[name][1]][i])))
        return out

    def solve(self, requests: list) -> None:
        """Fetch the DuckDB answer of every (template, key) in ``requests``."""
        for name in LOOKUP_NAMES:
            keys = sorted({key for t, _, key in requests if t == name} - {
                key for t, key in self.answers if t == name})
            if not keys:
                continue
            cols, sql = LOOKUP_SQL[name]
            self.duck.execute("CREATE OR REPLACE TEMP TABLE keys AS "
                              "SELECT unnest(?::BIGINT[]) AS k", [keys])
            found: dict = {k: [] for k in keys}
            for row in self.duck.execute(sql).fetchall():
                found[row[0]].append(row[1:])
            ordered = LOOKUPS[name][2]
            for k, rows in found.items():
                self.answers[(name, k)] = norm_rows(cols, rows, ordered)

    def op(self, age, graph_ref: Callable, request) -> Op:
        name, use_param, key = request
        text, kind, ordered = LOOKUPS[name]
        value = customer_name(key) if kind == "customer" else self.order_base + key
        if use_param:
            stmt, params = text.format("$k"), {"k": value}
        else:
            stmt, params = text.format(f"'{value}'" if kind == "customer" else value), None
        want = self.answers[(name, key)]
        return Op(
            name, False,
            lambda: age.cypher(graph_ref(), stmt, params).df,
            lambda rows: same_rows(engine_rows(rows, ordered), want),
        )


class PointLookup(Workload):
    """4 clients; 1-2-hop neighbourhood reads on Zipf-skewed keys, half as
    ``$param`` statements and half with inline literals."""

    clients = 4
    per_client = 3000  # requests drawn per client; a client wraps around
    warmup_count = 2 * len(LOOKUPS)
    warm_ops = 8

    def build(self) -> None:
        super().build()
        self.lookups.bind(self.graph)

    def solve(self) -> None:
        self.lookups = LookupStatements(self.duck, self.counts)
        self.requests = [
            self.lookups.draw(np.random.default_rng([self.seed, 10, c]), self.per_client,
                              start=2 * c)
            for c in range(self.clients)
        ]
        warm = [(name, p, 0) for name in LOOKUP_NAMES for p in (False, True)]
        self.lookups.solve(warm + [r for reqs in self.requests for r in reqs])
        self.warm = warm

    def warmup_op(self, i: int) -> Op:
        return self.lookups.op(self.age, lambda: self.graph, self.warm[i])

    def op(self, client: int, n: int) -> Op:
        reqs = self.requests[client]
        return self.lookups.op(self.age, lambda: self.graph, reqs[n % len(reqs)])


# ------------------------------------------------------------ analytic_scan
ANALYTIC = [
    "g_join3_edgeprops", "g_vle_2hop", "g_vle_range", "g_not_exists",
    "g_optional_match", "g_count_subquery", "g_agg_stats", "g_shortest_path",
]
VLE_QUERIES = ("g_vle_2hop", "g_vle_range")  # the variable-length hops


def entry_statements(entry, names: list) -> dict:
    """The Cypher text of each named ``__spark_entry__`` query: the entry's
    ``_cypher`` helper is swapped for one that hands back its statement."""
    saved = entry._cypher
    entry._cypher = lambda spark, sf_dir, stmt: stmt
    try:
        qs = entry.queries()
        return {n: qs[n](None, None) for n in names}
    finally:
        entry._cypher = saved


class AnalyticScan(Workload):
    """1 client cycling through eight whole-graph queries in seeded order."""

    cycle = warmup_count = len(ANALYTIC)
    cycle_s = 1.5
    warm_ops = 2 * len(ANALYTIC)

    def solve(self) -> None:
        self.stmts = entry_statements(self.entry, ANALYTIC)
        oracles = self.entry.oracle_sql()
        self.checks = {n: oracle_check(self.duck, oracles[n]) for n in ANALYTIC}

    def _op(self, name: str) -> Op:
        stmt = self.stmts[name]
        return Op(name, False, lambda: self.age.cypher(self.graph, stmt).df, self.checks[name])

    def warmup_op(self, i: int) -> Op:
        return self._op(ANALYTIC[i])

    def op(self, client: int, n: int) -> Op:
        c, i = divmod(n, self.cycle)  # each cycle is a fresh seeded permutation
        order = np.random.default_rng([self.seed, 20, c]).permutation(self.cycle)
        return self._op(ANALYTIC[order[i]])


# ------------------------------------------------------------ curation
CURATION = {
    # operator: __spark_entry__ query that calls it with the entry's arguments
    "minhash_dedup_pairs": "p_minhash_pairs",
    "simhash_near_pairs": "p_simhash_pairs",
    "exact_dedup": "p_exact_dedup",
    "quality_features": "p_text_features",
    "trigram_similarity_join": "p_fuzzy_join",
    "tfidf_topk": "p_tfidf_topk",
    "brute_force_topk": "p_ann_topk",
    "ivf_topk": "p_ann_ivf",
}
CURATION_NAMES = list(CURATION)


def ivf_invariants(rows) -> tuple:
    """The ``p_ivf_invariants`` aggregates, computed from ``p_ann_ivf`` rows."""
    return (
        len(rows),
        len({r["query_id"] for r in rows}),
        sum(1 for r in rows if r["rank"] == 1 and r["query_id"] == r["vec_id"]
            and r["cosine"] == 1.0),
        max((r["rank"] for r in rows), default=None),
        all(r["cosine"] <= 1.0 for r in rows),
        all(r["cosine"] >= -1.0 for r in rows),
    )


class Curation(Workload):
    """1 client cycling through eight pipeline operators, always in the same
    order: the operators differ tenfold in cost and leave different garbage
    behind, so a fixed order keeps runs comparable."""

    cycle = warm_ops = warmup_count = len(CURATION)
    cycle_s = 5.0
    builds_graph = False

    def build(self) -> None:
        pass

    def solve(self) -> None:
        self.queries = self.entry.queries()
        oracles = self.entry.oracle_sql()
        self.checks = {}
        for op, q in CURATION.items():
            if q == "p_ann_ivf":
                want = self.duck.sql(oracles["p_ivf_invariants"]).fetchall()[0]
                self.checks[op] = lambda rows, w=tuple(want): ivf_invariants(rows) == w
            else:
                self.checks[op] = oracle_check(self.duck, oracles[q])

    def _op(self, name: str) -> Op:
        q = self.queries[CURATION[name]]
        return Op(name, False, lambda: q(self.spark, self.data_dir), self.checks[name])

    def warmup_op(self, i: int) -> Op:
        return self._op(CURATION_NAMES[i])

    def op(self, client: int, n: int) -> Op:
        return self._op(CURATION_NAMES[n % self.cycle])


# ------------------------------------------------------------ read_write_mix
# One cycle, always in this order: four writes, each followed by a read
RW_CYCLE = [
    "create_review", "customer_orders", "set_flag", "customer_reviews",
    "merge_review", "order_parts", "delete_review", "flagged_count",
]


class ReadWriteMix(Workload):
    """1 client on a mutable-graph session: cycles of four writes and four
    reads on seeded keys, reads checked against a shadow model."""

    cycle = warm_ops = warmup_count = len(RW_CYCLE)
    cycle_s = 6.0
    hot_customers = 64  # writes and review reads touch this many customers
    read_only = False

    def session_args(self) -> dict:
        return {"mutable_graphs": True}

    def build(self) -> None:
        super().build()
        self.lookups.bind(self.graph)
        self.flagged: set = set()
        self.reviews: dict = {}  # rid -> [author name or None, stars]
        self.next_rid = 0
        self.rng = np.random.default_rng([self.seed, 40])

    def solve(self) -> None:
        # lookup reads use keys drawn up front, so their answers come from
        # DuckDB here; writes never touch what the lookups return
        self.lookups = LookupStatements(self.duck, self.counts)
        requests = self.lookups.draw(np.random.default_rng([self.seed, 41]), 2000)
        self.lookups.solve(requests)
        self.read_requests = {
            kind: [r for r in requests if r[0] == kind]
            for kind in ("customer_orders", "order_parts")
        }
        self.hot = [customer_name(int(k)) for k in np.random.default_rng(
            [self.seed, 42]).choice(self.counts["customer"], self.hot_customers,
                                    replace=False)]

    def _write(self, kind: str, stmt: str, params: dict, apply: Callable) -> Op:
        def prepare():
            res = self.age.cypher(self.graph, stmt, params)
            self.graph = res.graph
            return res.df
        apply()  # the shadow model assumes the write succeeds
        return Op(kind, True, prepare, lambda rows: rows == [])

    def _read(self, kind: str, stmt: str, params, check: Callable) -> Op:
        return Op(kind, False, lambda: self.age.cypher(self.graph, stmt, params).df, check)

    def _next(self, kind: str, cycle: int) -> Op:
        if kind in self.read_requests:
            reqs = self.read_requests[kind]
            return self.lookups.op(self.age, lambda: self.graph, reqs[cycle % len(reqs)])
        if kind == "flagged_count":
            want = len(self.flagged)
            return self._read(kind, "MATCH (c:Customer) WHERE c.flagged = true "
                                    "RETURN count(*) AS n", None,
                              lambda rows: [r["n"] for r in rows] == [want])
        if kind == "customer_reviews":  # the author of the newest review
            authored = [rid for rid, (a, _) in self.reviews.items() if a]
            name = self.reviews[max(authored)][0] if authored else self.hot[0]
            want = sorted((rid, s) for rid, (a, s) in self.reviews.items() if a == name)
            return self._read(
                kind, "MATCH (c:Customer {name: $name})-[:WROTE]->(r:Review) "
                      "RETURN r.rid AS rid, r.stars AS stars", {"name": name},
                lambda rows: sorted((r["rid"], r["stars"]) for r in rows) == want)
        name = self.hot[int(self.rng.integers(len(self.hot)))]
        stars = int(self.rng.integers(1, 6))
        if kind == "set_flag":
            return self._write(kind, "MATCH (c:Customer {name: $name}) SET c.flagged = true",
                               {"name": name}, lambda: self.flagged.add(name))
        if kind == "create_review":
            rid = self.next_rid
            self.next_rid += 1
            return self._write(
                kind, "MATCH (c:Customer {name: $name}) "
                      "CREATE (c)-[:WROTE]->(:Review {rid: $rid, stars: $stars})",
                {"name": name, "rid": rid, "stars": stars},
                lambda: self.reviews.__setitem__(rid, [name, stars]))
        if kind == "merge_review":
            # even cycles match the newest review, odd cycles create one
            if cycle % 2 == 0 and self.reviews:
                rid = max(self.reviews)
            else:
                rid = self.next_rid
                self.next_rid += 1

            def apply():
                self.reviews.setdefault(rid, [None, stars])[1] = stars
            return self._write(
                kind, "MERGE (r:Review {rid: $rid}) "
                      "ON CREATE SET r.stars = $stars ON MATCH SET r.stars = $stars",
                {"rid": rid, "stars": stars}, apply)
        rid = min(self.reviews) if self.reviews else -1  # delete the oldest
        return self._write(kind, "MATCH (r:Review {rid: $rid}) DETACH DELETE r",
                           {"rid": rid}, lambda: self.reviews.pop(rid, None))

    def warmup_op(self, i: int) -> Op:
        return self._next(RW_CYCLE[i], 0)

    def op(self, client: int, n: int) -> Op:
        c, i = divmod(n, self.cycle)
        return self._next(RW_CYCLE[i], c + 1)


WORKLOADS = {
    "point_lookup": PointLookup,
    "analytic_scan": AnalyticScan,
    "read_write_mix": ReadWriteMix,
    "curation": Curation,
}
