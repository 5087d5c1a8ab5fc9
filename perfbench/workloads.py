"""Seeded request generators for the three benchmark workloads.

Every request carries the SQL that answers it over the same parquet
tables (DuckDB dialect), so the benchmark can check each reply.
Measures that SQL cannot express are left out of the generators.

A workload is an endless sequence of *cycles*.  A cycle holds a fixed
number of requests of each kind; the seed picks the order inside the
cycle and the parameters of each request.  A run measures whole
cycles, so every seed times the same mix of kinds and the percentiles
fall on the same kinds (see ``WORKLOADS.md``).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from urllib.parse import urlencode

FLUSH_SECRET = "perfbench"


@dataclass
class Check:
    """How a reply is verified.

    ``kind``: ``agg`` (aggregation reply in ``fmt``; ``drills`` holds the
    leaf level name of each drilldown, ``measures`` the measure names;
    the SQL returns one row per non-empty cell: drill keys then
    measures), ``members`` (level member list; SQL returns key,
    caption), ``frame`` (corpus/events frame; SQL returns the frame;
    ``subset`` when the route truncates it), ``flush``."""
    kind: str
    sql: str | None = None
    fmt: str = "json"
    drills: tuple = ()
    measures: tuple = ()
    subset: bool = False


@dataclass
class Request:
    kind: str           # latency mode label, e.g. "agg_miss", "render_json"
    method: str
    path: str
    body: str | None
    check: Check
    key: str = field(init=False)   # identity of the answer (format-free)

    def __post_init__(self):
        self.key = f"{self.method} {self.path} {self.body or ''}"

    def wire(self) -> tuple:
        return (self.method, self.path, self.body)


# ---------------------------------------------------------------- SQL ---

def DEC(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)"


SALES_MEASURES = {
    "Quantity": DEC("l_quantity"),
    "Extended Price": DEC("l_extendedprice"),
    "Line Count": "COUNT(l_linenumber)",
    "Customer Count": "COUNT(DISTINCT o_custkey)",
    "Revenue": DEC("l_extendedprice * (1 - l_discount)"),
    "Max Quantity": "MAX(l_quantity)",
}
ORDERS_MEASURES = {
    "Total Price": DEC("o_totalprice"),
    "Order Count": "COUNT(o_orderkey)",
    "Ordering Customers": "COUNT(DISTINCT o_custkey)",
}
EVENTS_MEASURES = {
    "Value": DEC("value"),
    "Events": "COUNT(event_id)",
    "Users": "COUNT(DISTINCT user_id)",
}

CUST_JOIN = ("JOIN customer ON o_custkey = c_custkey "
             "JOIN nation cn ON c_nationkey = cn.n_nationkey "
             "JOIN region cr ON cn.n_regionkey = cr.r_regionkey")
SUPP_JOIN = ("JOIN supplier ON l_suppkey = s_suppkey "
             "JOIN nation sn ON s_nationkey = sn.n_nationkey "
             "JOIN region sr ON sn.n_regionkey = sr.r_regionkey")

# drilldown -> (SQL key expression, join group, leaf level name)
SALES_LEVELS = {
    "Customer.Region": ("cr.r_regionkey", "cust", "Region"),
    "Customer.Nation": ("cn.n_nationkey", "cust", "Nation"),
    "Customer.Customer": ("c_custkey", "cust", "Customer"),
    "Supplier.Region": ("sr.r_regionkey", "supp", "Region"),
    "Supplier.Nation": ("sn.n_nationkey", "supp", "Nation"),
    "Part.Brand": ("p_brand", "part", "Brand"),
    "Time.Year": ("CAST(year(l_shipdate) AS INTEGER)", None, "Year"),
    "Return Flag.Return Flag": ("l_returnflag", None, "Return Flag"),
    "Line Status.Line Status": ("l_linestatus", None, "Line Status"),
}
ORDERS_LEVELS = {
    "Customer.Region": ("cr.r_regionkey", "cust", "Region"),
    "Customer.Nation": ("cn.n_nationkey", "cust", "Nation"),
    "Customer.Customer": ("c_custkey", "cust", "Customer"),
    "Time.Year": ("CAST(year(o_orderdate) AS INTEGER)", None, "Year"),
    "Order Status.Order Status": ("o_orderstatus", None, "Order Status"),
    "Order Priority.Order Priority": ("o_orderpriority", None,
                                      "Order Priority"),
}
EVENTS_LEVELS = {
    "Time.Day": ("CAST(ts AS DATE)", None, "Day"),
    "Event Type.Event Type": ("event_type", None, "Event Type"),
}


def _sales_from(groups: set, measures) -> str:
    sql = "lineitem"
    if "cust" in groups or "Customer Count" in measures:
        sql += " JOIN orders ON l_orderkey = o_orderkey"
    if "cust" in groups:
        sql += " " + CUST_JOIN
    if "supp" in groups:
        sql += " " + SUPP_JOIN
    if "part" in groups:
        sql += " JOIN part ON l_partkey = p_partkey"
    return sql


CUBES = {
    "Sales": (SALES_LEVELS, SALES_MEASURES, _sales_from),
    "Orders": (ORDERS_LEVELS, ORDERS_MEASURES,
               lambda g, m: "orders" + (" " + CUST_JOIN if "cust" in g
                                        else "")),
    "Events": (EVENTS_LEVELS, EVENTS_MEASURES, lambda g, m: "events"),
}


def agg_sql(cube: str, drills: list, measures: list,
            where: list | None = None) -> str:
    """One row per non-empty cell: drill keys, then measures."""
    levels, msql, from_ = CUBES[cube]
    keys = [levels[d][0] for d in drills]
    groups = {levels[d][1] for d in drills}
    groups |= {w[1] for w in where or []}
    sel = keys + [msql[m] for m in measures]
    sql = f"SELECT {', '.join(sel)} FROM {from_(groups, measures)}"
    if where:
        sql += " WHERE " + " AND ".join(w[0] for w in where)
    if keys:
        sql += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(keys)))
    return sql


def lag_sql(drill: str, measures: list) -> str:
    """Sales ``drill`` x Time.Year with Revenue Prev Period: the
    previous non-empty year's Revenue within the same member."""
    base = [m for m in measures if m != "Revenue Prev Period"]
    inner = agg_sql("Sales", [drill, "Time.Year"], base)
    cols = ", ".join(f"m{i}" for i in range(len(base)))
    out = []
    for m in measures:
        out.append("lag(m{}) OVER (PARTITION BY k0 ORDER BY k1)".format(
            base.index("Revenue")) if m == "Revenue Prev Period"
            else f"m{base.index(m)}")
    return (f"SELECT k0, k1, {', '.join(out)} FROM ("
            f"SELECT * FROM ({inner}) t(k0, k1, {cols}))")


def top5_sql(measures: list) -> str:
    rev = SALES_MEASURES["Revenue"]
    top = ("SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = "
           f"o_orderkey GROUP BY o_custkey ORDER BY {rev} DESC, o_custkey "
           "LIMIT 5")
    return agg_sql("Sales", ["Customer.Customer"], measures,
                   [(f"c_custkey IN ({top})", "cust")])


def virtual_sql(drills: list, sales_m: list, orders_m: list,
                measures: list) -> str:
    """Orders and Sales: the two cubes' cells full-joined on the
    conformed keys (Customer, Time)."""
    n = len(drills)
    ks = [f"k{i}" for i in range(n)]
    s = agg_sql("Sales", drills, sales_m)
    o = agg_sql("Orders", drills, orders_m)
    scols = ks + [f"s{i}" for i in range(len(sales_m))]
    ocols = ks + [f"o{i}" for i in range(len(orders_m))]
    name = {m: f"s{i}" for i, m in enumerate(sales_m)}
    name.update({m: f"o{i}" for i, m in enumerate(orders_m)})
    return (f"SELECT {', '.join(ks + [name[m] for m in measures])} FROM "
            f"(SELECT * FROM ({s}) t({', '.join(scols)})) "
            f"FULL JOIN (SELECT * FROM ({o}) u({', '.join(ocols)})) "
            f"USING ({', '.join(ks)})")


def members_sql(drill: str) -> str:
    """Distinct (key, caption) of a level over its dimension tables."""
    dims = {
        "Customer.Region": ("r_regionkey", "r_name", "customer JOIN nation "
                            "ON c_nationkey = n_nationkey JOIN region ON "
                            "n_regionkey = r_regionkey"),
        "Customer.Nation": ("n_nationkey", "n_name", "customer JOIN nation "
                            "ON c_nationkey = n_nationkey"),
        "Supplier.Nation": ("n_nationkey", "n_name", "supplier JOIN nation "
                            "ON s_nationkey = n_nationkey"),
        "Part.Brand": ("p_brand", "p_brand", "part"),
    }
    k, c, src = dims[drill]
    return f"SELECT DISTINCT {k}, {c} FROM {src}"


# ------------------------------------------------------ request helpers ---

def agg_request(kind: str, cube: str, drills: list, measures: list,
                sql: str, cuts: list = (), fmt: str = "json",
                extra: list = ()) -> Request:
    params = ([("drilldown[]", d) for d in drills]
              + [("measures[]", m) for m in measures]
              + [("cut[]", c) for c in cuts] + list(extra))
    ext = "" if fmt == "json" else f".{fmt}"
    # the virtual cube's conformed levels carry the Sales leaf names
    levels = CUBES.get(cube, (SALES_LEVELS,))[0]
    return Request(kind, "GET",
                   f"/cubes/{cube.replace(' ', '%20')}/aggregate{ext}?"
                   f"{urlencode(params)}", None,
                   Check("agg", sql, fmt,
                         tuple(levels[d][2] for d in drills),
                         tuple(measures)))


def mdx_request(kind: str, mdx: str, drills: list, measures: list,
                sql: str) -> Request:
    return Request(kind, "POST", "/mdx", mdx,
                   Check("agg", sql, "json",
                         tuple(SALES_LEVELS[d][2] for d in drills),
                         tuple(measures)))


def _pick(rng: random.Random, pool, lo: int, hi: int) -> list:
    return rng.sample(list(pool), rng.randint(lo, hi))


def _mdx_level(drill: str) -> str:
    d, lv = drill.split(".")
    return f"[{d}].[{lv}].Members"


YEARS = list(range(1995, 2002))
SUMS = ["Quantity", "Extended Price", "Line Count", "Revenue"]


# ----------------------------------------------------------- olap_adhoc ---
# One function per request class; each returns a fresh request.  The
# seed picks values (members, years, which measures), never the shape:
# a class always has the same number of drilldowns and measures, so
# every seed times requests of about the same cost.  "Every request is
# distinct" is enforced by the cycle generator, which redraws a class
# until its key is new.

def _adhoc_routed(rng):
    # Customer grain x Time.Year is covered by the nation_year rollup
    drill = [rng.choice(["Customer.Region", "Customer.Nation"]), "Time.Year"]
    ms = _pick(rng, SUMS, 2, 2)
    ys = sorted(rng.sample(YEARS, rng.randint(2, 4)))
    cut = "{" + ",".join(f"[Time].[Year].[{y}]" for y in ys) + "}"
    sql = agg_sql("Sales", drill, ms, [(
        f"year(l_shipdate) IN ({','.join(map(str, ys))})", None)])
    return agg_request("agg", "Sales", drill, ms, sql, [cut])


def _adhoc_distinct(rng):
    # distinct counts are not re-aggregable: always the base fact
    drill = [rng.choice(["Supplier.Region", "Supplier.Nation"])]
    ms = ["Customer Count"] + _pick(rng, SUMS, 1, 1)
    rng.shuffle(ms)
    flag = rng.choice(["A", "N", "R"])
    return agg_request("agg", "Sales", drill, ms, agg_sql(
        "Sales", drill, ms, [(f"l_returnflag = '{flag}'", None)]),
        [f"[Return Flag].[Return Flag].[{flag}]"])


def _adhoc_lag(rng):
    drill = rng.choice(["Customer.Region", "Customer.Nation"])
    ms = ["Revenue", "Revenue Prev Period"] + _pick(
        rng, ["Quantity", "Line Count", "Extended Price"], 1, 1)
    rng.shuffle(ms)
    return agg_request("agg", "Sales", [drill, "Time.Year"], ms,
                       lag_sql(drill, ms))


def _adhoc_top5(rng):
    ms = ["Revenue"] + _pick(rng, ["Quantity", "Line Count",
                                   "Extended Price", "Max Quantity"], 2, 2)
    rng.shuffle(ms)
    return agg_request("agg", "Sales", ["Customer.Customer"], ms,
                       top5_sql(ms), ["[Top5 Customers]"])


def _adhoc_orders_dense(rng):
    drill = ["Customer.Region", rng.choice(["Order Status.Order Status",
                                            "Order Priority.Order Priority"])]
    ms = _pick(rng, ["Total Price", "Order Count", "Ordering Customers"],
               2, 2)
    y = rng.choice(YEARS[:-1])
    sql = agg_sql("Orders", drill, ms,
                  [(f"year(o_orderdate) = {y}", None)])
    return agg_request("agg", "Orders", drill, ms, sql,
                       [f"[Time].[Year].[{y}]"],
                       extra=[("nonempty", "false")])


def _adhoc_events(rng):
    types = sorted(rng.sample(["view", "click", "purchase", "signup",
                               "error"], 3))
    ms = _pick(rng, ["Value", "Events", "Users"], 2, 2)
    drill = ["Event Type.Event Type", "Time.Day"]
    cut = "{" + ",".join(f"[Event Type].[Event Type].[{t}]"
                         for t in types) + "}"
    sql = agg_sql("Events", drill, ms, [(
        "event_type IN (" + ",".join(f"'{t}'" for t in types) + ")", None)])
    return agg_request("agg", "Events", drill, ms, sql, [cut],
                       extra=[("nonempty", "true")])


def _adhoc_virtual(rng):
    drill = [rng.choice(["Customer.Region", "Customer.Nation"]), "Time.Year"]
    sm = _pick(rng, ["Revenue", "Quantity", "Line Count"], 1, 1)
    om = _pick(rng, ["Total Price", "Order Count"], 1, 1)
    ms = sm + om
    rng.shuffle(ms)
    return agg_request("agg", "Orders and Sales", drill, ms,
                       virtual_sql(drill, sm, om, ms))


def _adhoc_mdx(rng):
    a = rng.choice(["Customer.Region", "Supplier.Region"])
    b = rng.choice(["Return Flag.Return Flag", "Line Status.Line Status"])
    ms = _pick(rng, SUMS, 2, 2)
    y = rng.choice(YEARS)
    mdx = ("SELECT {" + ", ".join(f"[Measures].[{m}]" for m in ms)
           + "} ON COLUMNS, NON EMPTY CROSSJOIN(" + _mdx_level(a) + ", "
           + _mdx_level(b) + f") ON ROWS FROM [Sales] "
           f"WHERE ([Time].[Year].[{y}])")
    sql = agg_sql("Sales", [a, b], ms, [(f"year(l_shipdate) = {y}", None)])
    return mdx_request("mdx", mdx, [a, b], ms, sql)


def _adhoc_props(rng):
    n = rng.randrange(25)
    ms = _pick(rng, SUMS, 1, 1)
    props = ["Customer.Customer.Market Segment",
             "Customer.Customer.Account Balance"]
    rng.shuffle(props)
    sql = agg_sql("Sales", ["Customer.Customer"], ms,
                  [(f"cn.n_nationkey = {n}", "cust")])
    return agg_request("agg", "Sales", ["Customer.Customer"], ms, sql,
                       [f"[Customer].[Nation].[&{n}]"],
                       extra=[("parents", "true")]
                       + [("properties[]", p) for p in props])


def members_request(drill: str, children: bool = False) -> Request:
    dim, level = drill.split(".")
    return Request("members", "GET",
                   f"/cubes/Sales/dimensions/{dim}/levels/{level}/members"
                   + ("?children=true" if children else ""),
                   None, Check("members", members_sql(drill)))


MEMBER_LEVELS = ["Customer.Region", "Customer.Nation", "Supplier.Nation",
                 "Part.Brand"]


def _adhoc_members(rng):
    # a filter drop-down: member lists are never cached
    return members_request(rng.choice(["Customer.Nation", "Supplier.Nation"]),
                           rng.random() < 0.5)


ADHOC_CLASSES = [_adhoc_routed, _adhoc_distinct, _adhoc_lag, _adhoc_top5,
                 _adhoc_orders_dense, _adhoc_events, _adhoc_virtual,
                 _adhoc_mdx, _adhoc_props, _adhoc_members]
WARM_CLASSES = [_adhoc_virtual, _adhoc_members]


class Adhoc:
    """olap_adhoc: a cycle is one request of each class, in seeded
    order; no request ever repeats."""
    name = "olap_adhoc"
    rollup_grains = {"nation_year": ("Customer.Nation", "Time.Year")}

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seen: set = set()

    def _fresh(self, cls, rng) -> Request:
        for _ in range(200):
            req = cls(rng)
            if req.key not in self.seen:
                self.seen.add(req.key)
                return req
        raise RuntimeError(f"{cls.__name__}: no distinct request left")

    def warm(self) -> list:
        # its own stream, reserved before any timed request is drawn;
        # the rollup build already ran a Sales aggregate, so these
        # cover the two first-time paths that stay slow otherwise (the
        # Orders cube via the virtual cube, and member listing)
        rng = random.Random(-1)
        return [self._fresh(c, rng) for c in WARM_CLASSES]

    def cycle(self) -> list:
        order = list(ADHOC_CLASSES)
        self.rng.shuffle(order)
        return [self._fresh(c, self.rng) for c in order]


# -------------------------------------------------------- olap_dashboard ---

def _big_panels(rng):
    """The two export panels (~105 k and ~45 k cells at sf0.1), as
    ``agg_request`` arguments."""
    ms = _pick(rng, ["Revenue", "Quantity", "Extended Price"], 1, 1)
    cy = ["Customer.Customer", "Time.Year"]
    om = _pick(rng, ["Total Price", "Order Count"], 1, 1)
    cs = ["Customer.Customer", "Order Status.Order Status"]
    return [dict(cube="Sales", drills=cy, measures=ms,
                 sql=agg_sql("Sales", cy, ms)),
            dict(cube="Orders", drills=cs, measures=om,
                 sql=agg_sql("Orders", cs, om))]


def _small_panels(rng, n: int):
    out = []
    for _ in range(n):
        y = rng.choice(YEARS)
        ms = _pick(rng, SUMS, 1, 2)
        d = [rng.choice(["Customer.Nation", "Part.Brand", "Supplier.Nation"])]
        out.append(dict(cube="Sales", drills=d, measures=ms,
                        sql=agg_sql("Sales", d, ms, [
                            (f"year(l_shipdate) = {y}", None)]),
                        cuts=[f"[Time].[Year].[{y}]"]))
    return out


class Dashboard:
    """olap_dashboard: a fixed seeded panel set replayed in seeded
    order.  A cycle renders each export panel in all four formats
    twice, the small panels once each, two posted-MDX panels and one
    member list, then flushes (the operator's post-ETL flush)."""
    name = "olap_dashboard"
    rollup_grains = {"nation_year": ("Customer.Nation", "Time.Year")}
    FORMATS = ("json", "csv", "jsonrecords", "xlsx")

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.big = _big_panels(self.rng)
        self.small = _small_panels(self.rng, 4)
        self.mdx = [_adhoc_mdx(self.rng) for _ in range(2)]

    def warm(self) -> list:
        # same shapes, other grains: fills nothing the timed panels use
        ms, d = ["Line Count"], ["Customer.Customer", "Return Flag.Return Flag"]
        return [agg_request("warm", "Sales", d, ms, agg_sql("Sales", d, ms),
                            fmt=f) for f in ("json", "xlsx")]

    def cycle(self) -> list:
        reqs = [agg_request(f"render_{f}", fmt=f, **p)
                for p in self.big for f in self.FORMATS for _ in range(2)]
        reqs += [agg_request("small", **p) for p in self.small]
        reqs += list(self.mdx)
        reqs.append(members_request(self.rng.choice(MEMBER_LEVELS)))
        self.rng.shuffle(reqs)
        reqs.append(Request("flush", "GET", f"/flush?secret={FLUSH_SECRET}",
                            None, Check("flush")))
        return reqs


# ------------------------------------------------------- corpus_pipeline ---

def shingle_pairs_sql(threshold: float) -> str:
    """The exact shingle-Jaccard pairs of the d03 oracle, found by
    prefix filtering instead of the all-pairs join: with shingles in
    rarest-first order, two sets with Jaccard >= t share a shingle
    among the first |s| - ceil(t |s|) + 1 of either set."""
    tokens = "string_split_regex(trim(text), '\\s+')"
    return f"""
        WITH sh AS (
          SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 for i in range(1, len(w) - 1)]) AS s
          FROM (SELECT doc_id, {tokens} AS w FROM documents)
          WHERE len(w) >= 3),
        ex AS (SELECT doc_id, unnest(s) AS g, len(s) AS sz FROM sh),
        freq AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
        ord AS (SELECT e.doc_id, e.g, e.sz, row_number() OVER (
                  PARTITION BY e.doc_id ORDER BY f.df, e.g) AS rn
                FROM ex e JOIN freq f USING (g)),
        pref AS (SELECT doc_id, g FROM ord
                 WHERE rn <= sz - ceil({threshold} * sz - 1e-9) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM pref a JOIN pref b ON a.g = b.g AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, jaccard FROM (
          SELECT c.a_id, c.b_id,
                 round(len(list_intersect(a.s, b.s)) * 1.0 /
                       len(list_distinct(list_concat(a.s, b.s))), 6)
                   AS jaccard
          FROM cand c JOIN sh a ON c.a_id = a.doc_id
                      JOIN sh b ON c.b_id = b.doc_id)
        WHERE jaccard >= {threshold}"""


class Corpus:
    """corpus_pipeline: a cycle holds ``CYCLE[kind]`` requests of each
    corpus/events route kind, seeded order and parameters.  Parameters
    stay on values whose answers the DuckDB oracles of
    ``__spark_entry__`` express.

    The multiplicities place p90 inside a latency mode: the four
    near-duplicate dedups (three simhash, one minhash: the slow mode)
    are the top of the curve, and p90 falls between two simhash
    samples."""
    name = "corpus_pipeline"
    rollup_grains: dict = {}
    LIMIT = 10_000
    CYCLE = {"dedup_exact": 1, "dedup_minhash": 1, "dedup_simhash": 3,
             "similar": 4, "stats": 4, "funnel": 1, "session_stats": 1,
             "sessions": 1}

    def __init__(self, seed: int, oracles: dict, n_vectors: int):
        self.rng = random.Random(seed)
        self.o = oracles
        self.n_vectors = n_vectors

    def _get(self, kind, path, params, sql, subset=False):
        params = list(params) + [("limit", self.LIMIT)]
        return Request(kind, "GET", f"{path}?{urlencode(params)}", None,
                       Check("frame", sql, subset=subset))

    def _sessions_sql(self, key, minutes):
        return self.o[key].replace("INTERVAL 30 MINUTE",
                                   f"INTERVAL {minutes} MINUTE")

    def request(self, kind: str, rng) -> Request:
        if kind == "dedup_exact":
            return self._get(kind, "/corpus/dedup", [("method", "exact")],
                             self.o["d01_exact_dups"])
        if kind == "dedup_minhash":
            return self._get(kind, "/corpus/dedup",
                             [("method", "minhash"), ("threshold", 0.5)],
                             shingle_pairs_sql(0.5))
        if kind == "dedup_simhash":
            # one max_hamming: the three simhash requests of a cycle are
            # the top of the latency curve, and p90 falls between them
            return self._get(kind, "/corpus/dedup",
                             [("method", "simhash"), ("max_hamming", 3)],
                             self.o["d04_neardup_simhash"])
        if kind == "similar":
            vec, k = rng.randrange(self.n_vectors), rng.choice([5, 10, 20])
            return self._get(kind, "/corpus/similar",
                             [("vec_id", vec), ("k", k)],
                             self.o["s01_cosine_topk"]
                             .replace("vec_id = 7", f"vec_id = {vec}")
                             .replace("vec_id <> 7", f"vec_id <> {vec}")
                             .replace("LIMIT 10", f"LIMIT {k}"))
        if kind == "stats":
            return self._get(kind, "/corpus/stats", [("metric", "quality")],
                             self.o["t03_quality_score"])
        if kind == "funnel":
            days = rng.choice([3, 7, 14])
            return self._get(kind, "/events/funnel",
                             [("steps", "view,click,purchase"),
                              ("within", f"{days} days")],
                             self.o["w05_funnel"].replace(
                                 "INTERVAL 7 DAY", f"INTERVAL {days} DAY"))
        gap = rng.choice([15, 30, 60])
        if kind == "session_stats":
            return self._get(kind, "/events/sessions",
                             [("gap", f"{gap} minutes"), ("summary", "true")],
                             self._sessions_sql("w11_session_stats", gap))
        return self._get(kind, "/events/sessions", [("gap", f"{gap} minutes")],
                         self._sessions_sql("w03_session_30m", gap),
                         subset=True)

    def warm(self) -> list:
        rng = random.Random(-1)
        return [self.request(k, rng) for k in self.CYCLE]

    def cycle(self) -> list:
        reqs = [self.request(k, self.rng)
                for k, n in self.CYCLE.items() for _ in range(n)]
        self.rng.shuffle(reqs)
        return reqs
