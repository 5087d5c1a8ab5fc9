"""QueryModel -> DataFrame plan builder: the engine core.

Analog of the reference's build_query (query_helper.rb:190-316), which
compiles REST params to MDX for Mondrian to turn into SQL.  Here the
same logical query compiles directly to a Spark DataFrame plan:

    fact ⋈ bridges ⋈ dims  →  cut filters  →  groupBy(levels).agg(measures)
         →  [dense cross-join]  →  calc members  →  HAVING (incl.
         measure-arithmetic filter_exprs)  →  distinct  →  top_percent
         →  order  →  offset/limit  →  tail  →  final projection

The post-aggregation stage order above is a CONTRACT: the MDX
compiler's nested-set-function guard (mdx._guard_nesting) rejects any
nesting this fixed order cannot represent, so every accepted query
flattens without reordering surprises.

Everything is declarative DataFrame API so Catalyst gets predicate
pushdown, column pruning, join reordering and AQE for free (SURVEY §4).

Scale design notes:
- Dim snowflake tails (nation/region-sized) are broadcast explicitly;
  the dim->fact join is left to AQE so unbounded dims (customer at
  TPC-H sf100k) fall back to shuffle hash join instead of OOMing the
  driver with a forced broadcast.
- Aggregation is a plain groupBy => partial (map-side) + final hash
  aggregate; distinct-count is computed from base facts (non-additive,
  SURVEY §7.5.3).
- Cut predicates are applied on dimension attribute columns *before*
  aggregation; Catalyst pushes them below the join onto the dim scan,
  so only matching dim rows reach the join.
- Dense axes (reference default, webshop_1.csv golden) cross-join
  per-dimension member frames — combinatorial by design; our default is
  nonempty=True and dense is opt-in (SURVEY §7.5.1).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .catalog import Catalog, Cube, Dimension, Hierarchy, Level, Measure
from .operators.closure import build_closure
from .parser import (
    Cut,
    DrilldownSpec,
    MemberRef,
    ParseError,
    PropertyRef,
    parse_cut,
    parse_drilldown,
    parse_measure_filter,
    parse_property,
    parse_segments,
)
from . import plancache
from .query import QueryModel
from .sources.registry import _scan_layout, load_table, table_file

# dense-axis (nonempty=false) cell-count ceiling — see _densify
MAX_DENSE_CELLS = 10_000_000
#: dense fills broadcast the aggregate side of their left join when
#: the MEASURED dense cell count (already collected for the
#: MAX_DENSE_CELLS guard) is below this — the aggregate at the same
#: grain is comparably sized, Spark just can't estimate it post-agg,
#: so without the hint the join planned sort-merge (VERDICT r13 #4).
#: Above the threshold the fallback IS sort-merge, the right call.
DENSE_BROADCAST_ROWS = 1_000_000


# ---------------------------------------------------------------------------
# resolution
# ---------------------------------------------------------------------------

@dataclass
class ResolvedDrill:
    dimension: Dimension
    hierarchy: Hierarchy
    level: Level
    group_levels: list[Level]       # [level] or root..level when parents=True

    @property
    def key_aliases(self) -> list[str]:
        return [lv.key_alias for lv in self.group_levels]


@dataclass
class ResolvedCut:
    dimension: Dimension
    hierarchy: Hierarchy
    level: Level | None
    cut: Cut


def _resolve_level(cube: Cube, dim_name: str, hier_name: str | None,
                   level_name: str | None) -> tuple[Dimension, Hierarchy, Level]:
    dim = cube.dimension(dim_name)
    if hier_name is not None:
        hier = dim.hierarchy(hier_name)
        level = hier.level(level_name) if level_name else hier.levels[0]
        return dim, hier, level
    hier = dim.default_hierarchy()
    if level_name is None:
        # default = first (non-all) level, reference query_helper.rb:119
        return dim, hier, hier.levels[0]
    try:
        return dim, hier, hier.level(level_name)
    except KeyError:
        # 2-segment form may name a non-default hierarchy
        hier = dim.hierarchy(level_name)
        return dim, hier, hier.levels[0]


def _resolve_drill(cube: Cube, spec: DrilldownSpec, parents: bool) -> ResolvedDrill:
    dim, hier, level = _resolve_level(cube, spec.dimension, spec.hierarchy, spec.level)
    idx = hier.level_index(level.name)
    group_levels = list(hier.levels[: idx + 1]) if parents else [level]
    return ResolvedDrill(dim, hier, level, group_levels)


def _resolve_cut(cube: Cube, cut: Cut) -> ResolvedCut:
    if cut.kind == "named_set":
        ns = cube.named_set(cut.named_set)
        if ns is None:
            raise ParseError(f"unknown named set {cut.named_set!r}")
        dim, hier, level = _resolve_level(cube, ns.dimension, None, ns.level)
        return ResolvedCut(dim, hier, level, cut)
    path = cut.path
    if len(path) == 1:
        dim, hier, level = _resolve_level(cube, path[0], None, None)
    elif len(path) == 2:
        dim, hier, level = _resolve_level(cube, path[0], None, path[1])
    else:
        dim, hier, level = _resolve_level(cube, path[0], path[1], path[2])
    return ResolvedCut(dim, hier, level, cut)


def _coerce(value: str):
    try:
        return int(value)
    except ValueError:
        pass
    try:
        return float(value)
    except ValueError:
        return value


def _coerce_for(value: str, dtype) -> object:
    """Plan-time typed coercion of a cut value against the key
    column's Spark type (r12, REST fuzz finding): without this, a
    malformed key like ``[Time].[Year].[&abc]`` builds
    ``bigint_col == 'abc'`` and ANSI mode kills the JOB at runtime
    (CAST_INVALID_INPUT) — a 500 on the REST surface and a failed
    100 TB job on the library surface.  Mondrian maps the equivalent
    member-resolution failure to a client error (api_helpers.rb:42-54),
    so a value that cannot be the column's type is a clear 400 here."""
    from pyspark.sql import types as T
    v = _coerce(value)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                          T.LongType)):
        if isinstance(v, str) or (isinstance(v, float)
                                  and not v.is_integer()):
            # '2.5' must NOT silently truncate to key 2
            raise ParseError(
                f"cut value {value!r} is not a valid key for an "
                "integer-keyed level")
        return int(v)
    if isinstance(dtype, T.DecimalType):
        # exact decimal keys keep full precision (r13, VERDICT r12
        # #7): float() would round a >15-digit key to the nearest
        # double and silently match the WRONG member
        import decimal
        try:
            return decimal.Decimal(str(value))
        except decimal.InvalidOperation:
            raise ParseError(
                f"cut value {value!r} is not a valid key for a "
                "decimal-keyed level") from None
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        if isinstance(v, str):
            raise ParseError(
                f"cut value {value!r} is not a valid key for a "
                "numeric-keyed level")
        return float(v)
    if isinstance(dtype, T.DateType):
        import datetime
        try:
            return datetime.date.fromisoformat(str(value))
        except ValueError:
            raise ParseError(
                f"cut value {value!r} is not a valid key for a "
                "date-keyed level (expected YYYY-MM-DD)") from None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        import datetime
        try:
            return datetime.datetime.fromisoformat(str(value))
        except ValueError:
            raise ParseError(
                f"cut value {value!r} is not a valid key for a "
                "timestamp-keyed level (expected ISO 8601)") from None
    return v


def _cut_predicate(rc: ResolvedCut, schema=None):
    """Cut -> Spark boolean Column over the level's alias columns.

    member/set/range cuts (reference query_helper.rb:44-72); applied
    pre-aggregation so Catalyst pushes them onto the dim-side scan.
    With ``schema`` (the filtered frame's StructType), cut values
    coerce against the key column's real type at PLAN time — a
    type-impossible value 400s instead of failing the job in ANSI
    mode (see _coerce_for)."""
    level = rc.level
    cut = rc.cut
    members = cut.members

    def col_for(ref: MemberRef):
        if ref.by_key or not (level.caption and level.caption_alias):
            return F.col(level.key_alias)
        return F.col(level.caption_alias)

    def val_for(ref: MemberRef):
        alias = (level.key_alias
                 if ref.by_key or not (level.caption
                                       and level.caption_alias)
                 else level.caption_alias)
        if schema is not None and alias in schema.names:
            return _coerce_for(ref.value, schema[alias].dataType)
        return _coerce(ref.value)

    if cut.kind == "member":
        return col_for(members[0]) == F.lit(val_for(members[0]))
    if cut.kind == "set":
        return col_for(members[0]).isin([val_for(m) for m in members])
    if cut.kind == "exclude":
        # EXCEPT(<level>.Members, {...}): keep everything else.  NULL
        # keys (facts with no matching member) stay excluded, same as
        # every positive cut — the axis only ever enumerates members.
        return ~col_for(members[0]).isin([val_for(m)
                                          for m in members])
    if cut.kind == "range":
        lo, hi = members
        return col_for(lo).between(F.lit(val_for(lo)),
                                   F.lit(val_for(hi)))
    raise ParseError(f"unsupported cut kind {cut.kind!r}")


def _dim_tables(dim: Dimension) -> list[str]:
    """The tables a dimension's members are read from (none for a
    degenerate dimension, whose members live on the fact)."""
    pc = dim.parent_child
    if pc is not None:
        return ([s.table for s in pc.sources]
                + ([pc.closure_table] if pc.closure_table else []))
    return [t for t, _, _ in dim.tables]


def _files(sf_dir: str, tables) -> list[str]:
    """The files behind ``tables``: the plan-time cache stamp of a
    memo computed from them."""
    return [f for f in (table_file(sf_dir, t) for t in tables) if f]


def _validate_cut_members(spark: SparkSession, sf_dir: str, cube: Cube,
                          rc: ResolvedCut) -> None:
    """Member-existence validation for plain member/set cuts (r13,
    VERDICT r12 #1-missing): Mondrian resolves every cut member at MDX
    execution and maps a nonexistent one to a client error (reference
    api_helpers.rb:42-54 -> api.rb:21-50 ``error!``), where this
    engine previously returned a silently empty (or full-dense) result
    for a valid-typed absent key.  A set lookup in the level's held
    member rows (:func:`held_members`, hidden ragged members included);
    a level wider than _LEVEL_MEMBER_CAP filters its member frame by
    the IN-literal instead.  Degenerate levels read their members from
    the fact — or, when a routing authority (opt-in _NS_ROUTERS) holds
    a rollup whose grain includes the level, from its smallest covering
    rollup, which enumerates the same members at a fraction of the
    scan and stays authoritative under appends.

    Deliberate NON-validation, each pinned in tests: RANGE endpoints
    stay bounds, not resolved members (``[1995-01-01]:[1995-03-31]``
    is well-defined whether or not any member sits on the endpoint);
    EXCLUDE of an absent member is a no-op by construction;
    parent-child member cuts validate on their own resolution path."""
    cut, level, dim = rc.cut, rc.level, rc.dimension
    if cut.kind not in ("member", "set") or dim.parent_child is not None:
        return
    by_col: dict[str, list] = {}
    for ref in cut.members:
        use_key = ref.by_key or not (level.caption and level.caption_alias)
        col = level.key_alias if use_key else level.caption_alias
        by_col.setdefault(col, []).append(str(ref.value))
    rd = ResolvedDrill(dim, rc.hierarchy, level, [level])
    for col, raws in by_col.items():
        held, plan = _validation_source(spark, sf_dir, cube, rd, col)
        frame = held.frame if held.frame is not None else plan()
        coerced = {r: _coerce_for(r, frame.schema[col].dataType)
                   for r in sorted(set(raws))}
        if held.frame is not None:
            found = held.values(col)
        else:
            found = {row[0] for row in
                     frame.filter(F.col(col).isin(list(coerced.values())))
                          .select(col).distinct().collect()}
        missing = [r for r, v in coerced.items() if v not in found]
        if missing:
            raise ParseError(
                f"cut member not found on {dim.name}.{level.name}: "
                + ", ".join(repr(m) for m in missing))


def _validation_source(spark: SparkSession, sf_dir: str, cube: Cube,
                       rd: ResolvedDrill, col: str) -> tuple:
    """(held member rows, a function building the member frame) a
    cut on column ``col`` of ``rd``'s level validates against: a
    degenerate level's smallest covering rollup of the routing
    authority when there is one (rollup frames have no file to stamp;
    appends invalidate the cache), else the level's own members."""
    level, dim = rd.level, rd.dimension
    if dim.is_degenerate:
        mgr = _NS_ROUTERS.get(
            (spark.sparkContext.applicationId, sf_dir, cube.name))
        covering = [r for r in getattr(mgr, "rollups", [])
                    if level.key_alias in r.key_cols
                    and col in r.frame.columns]
        if covering:
            rf = min(covering, key=lambda r: r.rows).frame
            cols = [a for _, a in level.out_cols() if a in rf.columns]
            return (_hold(spark, ("rollup", id(rf), tuple(cols)), [],
                          lambda: rf.select(*cols).distinct(), rf),
                    lambda: rf.select(*cols))
    return (held_members(spark, sf_dir, cube, rd, visible=False),
            lambda: _members_plan(spark, sf_dir, cube, rd, visible=False))


# ---------------------------------------------------------------------------
# physical attach
# ---------------------------------------------------------------------------

def _disk_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _parquet_rows(sf_dir: str, table: str) -> int | None:
    """Row count of a table's parquet layout from footer metadata only
    (no Spark job; the layout read of registry._scan_layout).  None
    when the table isn't served from local parquet (csv/json fallback,
    bucketed-db routing) or the footer is unreadable."""
    if os.environ.get("MRS_BUCKETED_DB"):
        return None   # layout routing may serve a different copy
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        return None
    layout = _scan_layout(path)
    return None if layout is None else layout[1]


def _axis_upper_bound(spark: SparkSession, sf_dir: str, cube: Cube,
                      rd: ResolvedDrill, vc_cubes=None) -> int | None:
    """Statistics-only upper bound on a dense axis member frame's rows,
    from parquet footers (guide §1: don't run a job to learn what
    metadata already proves).  Sound because the member frame is a
    DISTINCT projection of a denormalized frame whose rows never exceed
    (a) the head (or fact) table's rows and (b) the product over group
    levels of the rows of the single chain table each level's key
    expression reads.  Restrict cuts and property filters only shrink
    the frame, so the bound stays valid.  None = can't bound without a
    job (non-parquet layout)."""
    dim = rd.dimension
    if dim.parent_child is not None:
        total = 0
        for src in dim.parent_child.sources:
            r = _parquet_rows(sf_dir, src.table)
            if r is None:
                return None
            total += r
        return total
    if dim.is_degenerate:
        facts = [cube.fact]
        if vc_cubes is not None:
            owners = _vc_owners(vc_cubes[1], vc_cubes[0].name, dim.name)
            if len(owners) > 1:
                facts = [c.fact for c in owners]
        total = 0
        for fact in facts:
            r = _parquet_rows(sf_dir, fact)
            if r is None:
                return None
            total += r
        return total
    head_rows = _parquet_rows(sf_dir, dim.tables[0][0])
    if head_rows is None:
        return None
    prod = 1
    for lv in rd.group_levels:
        cands = []
        for table, _, _ in dim.tables:
            cols = _table_columns(spark, sf_dir, table)
            pat = re.compile(
                r"\b(" + "|".join(map(re.escape, cols)) + r")\b")
            if pat.search(lv.key):
                cands.append(table)
        if len(cands) == 1:
            r = _parquet_rows(sf_dir, cands[0])
            if r is None:
                return None
        else:
            r = head_rows   # multi-table expr: head FK-bounds the frame
        prod *= max(r, 1)
    return min(head_rows, prod)


def _broadcast_threshold(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "10485760")).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*(b|k|kb|m|mb|g|gb)?", raw)
    if not m:
        return 10 * 1024 * 1024
    mult = {"k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
            "g": 1024**3, "gb": 1024**3}.get(m.group(2) or "b", 1)
    return int(m.group(1)) * mult


def _chain_broadcastable(spark: SparkSession, sf_dir: str, dim) -> bool:
    """FK-integrity static broadcast hint (the q20 idle-bench finding,
    r8): Catalyst estimates a JOINED snowflake subtree by multiplying
    child sizes, so a chain like customer⋈nation⋈region blows past the
    broadcast threshold and plans a sort-merge join — AQE converts it
    back at runtime, but only AFTER the fact side has been shuffled.
    The catalog knows what Catalyst cannot: FK integrity bounds the
    joined frame's rows by the ROOT table, so the chain's total
    on-disk bytes is a sound size proxy.  When that total is under the
    session broadcast threshold, hint the broadcast statically and the
    fact-side Exchange never exists.  Self-scaling: at 100 TB the same
    dim's files exceed the threshold and the plan stays sort-merge.
    File sizes are memoized in the plan-time cache, stamped with each
    file's mtime."""
    thr = _broadcast_threshold(spark)
    if thr <= 0 or not dim.tables:
        return False
    total = 0
    for table, _, _ in dim.tables:
        path = table_file(sf_dir, table)
        if path is None:
            return False   # non-local layout (e.g. bucketed db): no hint
        total += plancache.get("table_bytes", path, [path],
                               lambda: _disk_bytes(path))
    return total < thr


def _table_columns(spark: SparkSession, sf_dir: str, table: str) -> list[str]:
    return plancache.get("table_cols", (sf_dir, table),
                         _files(sf_dir, [table]),
                         lambda: load_table(spark, sf_dir, table).columns)


def _dim_frame(spark: SparkSession, sf_dir: str, dim: Dimension,
               needed_exprs: list[str] | None = None) -> DataFrame:
    """Denormalized snowflake frame (reference <Join> chains,
    foodmart.xml:71-75) — chain tails are coarser-grain lookup tables,
    always broadcast.

    Chain pruning: the chain is linear (head holds the pk), so only the
    prefix up to the furthest table whose columns are actually
    referenced needs to be joined — a leaf-level-only query on a
    3-table snowflake joins 1 table, not 3.  (Catalyst cannot prune
    these joins itself: dropping an inner join is only safe under FK
    integrity, which the catalog asserts and Spark cannot.)"""
    tables = list(dim.tables)
    if needed_exprs:
        last = 0
        for i, (table, _, _) in enumerate(tables):
            cols = _table_columns(spark, sf_dir, table)
            pat = re.compile(r"\b(" + "|".join(map(re.escape, cols)) + r")\b")
            if any(pat.search(e) for e in needed_exprs):
                last = i
        tables = tables[: last + 1]
    head, *rest = tables
    df = load_table(spark, sf_dir, head[0])
    for table, left_key, right_key in rest:
        t = load_table(spark, sf_dir, table)
        df = df.join(F.broadcast(t), F.col(left_key) == F.col(right_key), "inner")
    return df


def _dim_select(spark: SparkSession, sf_dir: str, dim: Dimension,
                levels: list[Level], props: list | None = None,
                caption_overrides: dict | None = None) -> DataFrame:
    """Project the denormalized dim frame down to pk + aliased level
    columns, pre-pruned so only needed columns cross the join.
    Memoized PLAN (never data): the same projection is rebuilt by
    every query touching the dimension, and each build is ~10 py4j
    round trips plus a JVM analysis pass (~50-100 ms)."""
    caption_overrides = caption_overrides or {}
    key = (os.path.realpath(sf_dir), id(dim),
           tuple(lv.name for lv in levels),
           tuple(p.alias for p in props or []),
           tuple(sorted((d, l, c) for (d, l), c
                        in caption_overrides.items())))

    def build():
        exprs = {dim.dim_pk: dim.dim_pk}
        for lv in levels:
            exprs[lv.key_alias] = lv.key
            if lv.caption and lv.caption_alias \
                    and lv.caption_alias != lv.key_alias:
                exprs[lv.caption_alias] = caption_overrides.get(
                    (dim.name, lv.name), lv.caption)
        for p in props or []:
            exprs[p.alias] = p.column
        frame = _dim_frame(spark, sf_dir, dim,
                           needed_exprs=list(exprs.values()))
        return dim, frame.select(*[F.expr(e).alias(a)
                                   for a, e in exprs.items()])
    held, out = plancache.get("dim_select", key,
                              _files(sf_dir, _dim_tables(dim)), build)
    assert held is dim   # the entry pins dim, so its id() is not reused
    return out


# ---------------------------------------------------------------------------
# parent-child hierarchies (reference foodmart.xml:529-547: HR cube
# employee/supervisor with <ParentExpression> + <Closure>)
# ---------------------------------------------------------------------------

def pc_member_frame(spark: SparkSession, sf_dir: str,
                    dim: Dimension) -> DataFrame:
    """Member frame of a parent-child dimension: canonical columns
    (node_id, parent_id, node_name), one union branch per edge source.
    The single level's key/caption exprs read these canonical columns,
    so cuts/ordering/properties machinery stays uniform."""
    pc = dim.parent_child
    parts = []
    for src in pc.sources:
        t = load_table(spark, sf_dir, src.table)
        parts.append(t.select(
            F.expr(src.id_expr).cast("string").alias("node_id"),
            (F.expr(src.parent_expr).cast("string")
             if src.parent_expr is not None
             else F.lit(None).cast("string")).alias("parent_id"),
            (F.expr(src.caption_expr) if src.caption_expr is not None
             else F.expr(src.id_expr).cast("string")).alias("node_name")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pc_closure_frame(spark: SparkSession, sf_dir: str,
                     dim: Dimension) -> DataFrame:
    """Transitive closure (ancestor_id, descendant_id, depth) of a
    parent-child dimension incl. depth-0 self rows.  Reads the
    precomputed closure table when declared (Mondrian ``<Closure>``,
    reference foodmart.xml:537-540); otherwise builds it distributedly
    (operators/closure.py, log2(depth) self-join passes) and persists
    the result — memoized in the plan-time cache, which unpersists it
    when the entry leaves, and re-read by every query on the
    dimension."""
    return plancache.get("pc_closure", (sf_dir, dim.name),
                         _files(sf_dir, _dim_tables(dim)),
                         lambda: _build_pc_closure(spark, sf_dir, dim))


def _build_pc_closure(spark: SparkSession, sf_dir: str,
                      dim: Dimension) -> DataFrame:
    pc = dim.parent_child
    if pc.closure_table:
        cl = load_table(spark, sf_dir, pc.closure_table).select(
            F.col("ancestor_id").cast("string").alias("ancestor_id"),
            F.col("descendant_id").cast("string").alias("descendant_id"),
            F.col("depth").cast("int").alias("depth"))
    else:
        edges = pc_member_frame(spark, sf_dir, dim)
        cl = build_closure(edges, "node_id", "parent_id",
                           max_depth=pc.max_depth,
                           known_depth=pc.known_depth)
    cl = cl.persist()
    if pc.known_depth is not None and not pc.closure_table:
        # a declared known_depth skips the convergence check — but a
        # declaration SMALLER than the real tree depth would silently
        # truncate ancestor chains (subtree rollups quietly missing
        # the deepest facts).  One member-frame-sized probe per
        # closure build: any max-depth ancestor that itself still has
        # a parent proves deeper pairs exist -> fail loud.
        edges = pc_member_frame(spark, sf_dir, dim)
        deeper = (cl.filter(F.col("depth") == pc.known_depth)
                    .join(edges.filter(F.col("parent_id").isNotNull())
                               .select(F.col("node_id")
                                       .alias("ancestor_id")),
                          "ancestor_id", "inner")
                    .limit(1).count())
        if deeper:
            cl.unpersist()
            raise ParseError(
                f"parent-child dimension {dim.name!r} declares "
                f"known_depth={pc.known_depth}, but the tree is "
                "deeper — ancestor chains would be silently "
                "truncated; raise known_depth or drop it to let the "
                "builder converge")
    return cl


def _pc_select(spark: SparkSession, sf_dir: str, dim: Dimension,
               levels: list, caption_overrides: dict | None = None) -> DataFrame:
    """closure ⋈ members-on-ancestor projected to (descendant join key
    ``__pc_desc__``, level key/caption aliases) — the parent-child
    analog of _dim_select.  ONE join into the fact fans each fact row
    out to its ancestor chain (bounded by tree depth — the same cost
    Mondrian's closure-table SQL pays), so groupBy(member key)
    aggregates whole subtrees (a supervisor's cell = their own facts
    plus all transitive reports').  The projected plan is memoized
    like _dim_select's and keyed on its closure, fetched on every call
    so the closure stays as recently used as the plan; a rebuilt
    closure gets a new plan, never one on an unpersisted frame."""
    lv = levels[0]
    cl = pc_closure_frame(spark, sf_dir, dim)
    key = (os.path.realpath(sf_dir), id(dim), id(cl), lv.name,
           tuple(sorted((d, l, c) for (d, l), c
                        in (caption_overrides or {}).items())))

    def build():
        members = pc_member_frame(spark, sf_dir, dim)
        joined = cl.join(members, cl["ancestor_id"] == members["node_id"],
                         "inner")
        cols = [F.col("descendant_id").alias("__pc_desc__"),
                F.expr(lv.key).alias(lv.key_alias)]
        if lv.caption and lv.caption_alias \
                and lv.caption_alias != lv.key_alias:
            cap = (caption_overrides or {}).get((dim.name, lv.name),
                                                lv.caption)
            cols.append(F.expr(cap).alias(lv.caption_alias))
        return dim, cl, joined.select(*cols)
    held, held_cl, out = plancache.get(
        "pc_select", key, _files(sf_dir, _dim_tables(dim)), build)
    assert held is dim and held_cl is cl   # pinned, so ids not reused
    return out


# ---------------------------------------------------------------------------
# the planner
# ---------------------------------------------------------------------------

def aggregate(spark: SparkSession, sf_dir: str, cat: Catalog, qm: QueryModel,
              fact_df: DataFrame | None = None,
              routers: dict | None = None) -> DataFrame:
    """Execute a QueryModel against the catalog -> aggregated DataFrame.

    The full analog of the reference aggregate endpoint
    (api.rb:115-158 -> query_helper.rb:190-316 -> Mondrian -> SQL).

    ``fact_df`` substitutes the cube's fact scan (dims still come from
    ``sf_dir``) — the hook incremental rollup maintenance uses to
    aggregate ONLY an appended batch of fact rows at a rollup's grain,
    never rescanning the base fact (plans/rollup.py).

    ``routers``: {base cube name: RollupManager} — on a VIRTUAL cube
    each per-cube sub-aggregate routes through its cube's aggregate
    tables when one covers (r11; Mondrian routes every base cube's
    cells through its AggName tables the same way).  The chosen
    sources surface on the result as ``_mrs_virtual_sources``.
    """
    if cat.virtual_cube(qm.cube) is not None:
        # r11 (VERDICT r10 #1): the time-navigation / WITH SET family
        # virtualizes — member-key walks resolve over the UNION of the
        # base cubes' member sets, WITH SET ranks on the measure's
        # owning cube; both rewrite to plain drilldown + cut strings
        # the drill-across path already handles.  GENERATE and
        # TOPPERCENT/TOPSUM/TAIL virtualize inside _aggregate_virtual
        # as post-join window stages (the axis IS the joined frame).
        if (qm.with_sets or getattr(qm, "with_sets_ext", [])
                or qm.lastperiods or qm.member_lags
                or qm.periods_to_date):
            qm = _virtualize_time_nav(spark, sf_dir, cat, qm)
        if (qm.children_of or qm.parent_of or qm.edge_child_of
                or qm.siblings_of or qm.edge_sibling_of
                or qm.ancestor_of):
            qm = _virtualize_idioms(spark, sf_dir, cat, qm)
        return _aggregate_virtual(spark, sf_dir, cat, qm,
                                  routers=routers)
    cube = cat.cube(qm.cube)
    if qm.with_members:
        cube = _inline_calcs(cube, qm.with_members)
    if qm.with_sets or getattr(qm, "with_sets_ext", []):
        cube = _inline_sets(cube, qm.with_sets,
                            getattr(qm, "with_sets_ext", []))
    return _aggregate_cube(spark, sf_dir, cube, qm, fact_df=fact_df)


def _inline_sets(cube: Cube, with_sets, with_sets_ext=()) -> Cube:
    """Query-scoped WITH SET named sets (TOPCOUNT/BOTTOMCOUNT form)
    plus inline COMPUTED sets from crossjoin-position set functions
    (r12: TOPPERCENT/TOPSUM/HEAD/TAIL — ``with_sets_ext``): validated
    against the cube and appended to a per-query copy, after which
    they behave exactly like schema named sets — usable as axis or
    cut, memoized by named_set_keys (the cache key includes the full
    set definition, so inline sets cache safely too)."""
    import dataclasses

    from .catalog import NamedSet

    new = []
    taken = {s.name.lower() for s in cube.named_sets}

    def resolve(name, level_path, top_by):
        segs = level_path.split(".")
        try:
            dim = cube.dimension(segs[0])
            hier = (dim.hierarchy(segs[1]) if len(segs) == 3
                    else dim.default_hierarchy())
            level = hier.level(segs[-1])
            if top_by is not None and cube.calc_member(top_by) is None:
                cube.measure(top_by)  # validate the ranking measure
        except KeyError as e:
            raise ParseError(f"WITH SET {name!r}: {e}")
        if len(segs) == 3 and hier is not dim.default_hierarchy():
            raise ParseError(
                f"WITH SET {name!r}: named sets rank over the default "
                f"hierarchy; got {segs[1]!r}")
        return dim, level

    for name, level_path, k, top_by, ascending in with_sets:
        if name.lower() in taken:
            raise ParseError(
                f"WITH SET name {name!r} collides with an existing set")
        taken.add(name.lower())
        dim, level = resolve(name, level_path, top_by)
        if k < 1:
            raise ParseError(f"WITH SET {name!r}: count must be >= 1")
        new.append(NamedSet(name, dimension=dim.name, level=level.name,
                            top_by=top_by, k=k, ascending=ascending))
    for name, level_path, kind, arg, top_by, bottom in with_sets_ext:
        if name.lower() in taken:
            raise ParseError(
                f"computed set name {name!r} collides with an "
                "existing set")
        taken.add(name.lower())
        dim, level = resolve(name, level_path, top_by)
        if kind == "subset":
            off, cnt = arg
            new.append(NamedSet(
                name, dimension=dim.name, level=level.name,
                top_by=None, k=(-1 if cnt is None else int(cnt)),
                kind=kind, arg=float(off)))
        elif kind in ("head", "tail"):
            new.append(NamedSet(
                name, dimension=dim.name, level=level.name,
                top_by=None, k=int(arg), kind=kind))
        else:
            new.append(NamedSet(
                name, dimension=dim.name, level=level.name,
                top_by=top_by, k=0, ascending=bottom, kind=kind,
                arg=float(arg)))
    return dataclasses.replace(
        cube, named_sets=cube.named_sets + tuple(new))


def _inline_calcs(cube: Cube, with_members) -> Cube:
    """Query-scoped WITH MEMBER calc members (reference api.rb:21-50:
    posted MDX may define inline members, which Mondrian evaluates
    post-aggregation like schema calc members).  ``{m:Name}`` measure
    placeholders resolve to the cube's post-agg aliases; the members are
    appended to a per-query copy of the cube, so the schema cube is
    never mutated."""
    import dataclasses

    from .catalog import CalculatedMember

    new = []
    taken = ({m.alias for m in cube.measures} |
             {c.alias for c in cube.calc_members})
    # earlier inline members are referencable by LATER ones (Mondrian
    # allows chained WITH MEMBER definitions); resolution is strictly
    # textual order, so cycles are impossible by construction
    inline_aliases: dict[str, str] = {}

    current = {"name": None}

    def measure_alias(ref):
        if ref == current["name"]:
            raise ParseError(
                f"WITH MEMBER {ref!r} references itself")
        if ref in inline_aliases:
            return inline_aliases[ref]
        c = cube.calc_member(ref)
        if c is not None:
            return c.alias
        try:
            return cube.measure(ref).alias
        except KeyError:
            raise ParseError(f"WITH MEMBER references unknown measure {ref!r}")

    def resolve(match):
        return measure_alias(match.group(1))

    for name, tmpl in with_members:
        alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
        if not alias or alias in taken:
            raise ParseError(
                f"WITH MEMBER name {name!r} is empty or collides with an "
                "existing measure")
        taken.add(alias)
        current["name"] = name
        inline_aliases[name] = alias
        lag = re.fullmatch(r"\{lag:([^:}]+):([^:}]+):(\d+)\}", tmpl)
        if lag:
            # PARALLELPERIOD tuple: shift the measure lag_n members at
            # the named level of the named dimension
            ref, lvl_path, lag_n = lag.groups()
            segs = lvl_path.split(".")
            try:
                dim = cube.dimension(segs[0])
            except KeyError:
                raise ParseError(
                    f"PARALLELPERIOD references unknown dimension {segs[0]!r}")
            lag_level = segs[-1] if len(segs) > 1 else None
            new.append(CalculatedMember(
                name, alias, lag_of=measure_alias(ref), lag_dim=dim.name,
                lag_n=int(lag_n), lag_level=lag_level))
            continue
        ytd = re.fullmatch(r"\{(ytd|qtd|mtd|wtd):([^}]+)\}", tmpl)
        if ytd:
            # SUM(YTD()|QTD()|MTD()|WTD(), m): running total along the
            # cube's time dimension (reference analog: Mondrian's
            # Ytd()/Qtd()/Mtd()/Wtd() over the TimeDimension,
            # foodmart.xml:49 type="TimeDimension").  QTD/MTD/WTD
            # anchor at the Quarter/Month/Week level by name (the
            # anchor-level-present check happens at window build).
            tdims = [d for d in cube.dimensions if d.time_dimension]
            if not tdims:
                raise ParseError(
                    f"WITH MEMBER {name!r}: SUM({ytd.group(1).upper()}"
                    f"(), ...) needs a time dimension on cube "
                    f"{cube.name!r}")
            anchor = {"ytd": None, "qtd": "Quarter", "mtd": "Month",
                      "wtd": "Week"}[ytd.group(1)]
            new.append(CalculatedMember(
                name, alias, run_of=measure_alias(ytd.group(2)),
                run_dim=tdims[0].name, run_anchor=anchor))
            continue
        sa = re.fullmatch(r"\{setagg:([a-z]+):([^:]+):(.+)\}", tmpl,
                          re.DOTALL)
        if sa:
            # AGGREGATE/SUM/AVG/MIN/MAX/COUNT(<member set>, m): the
            # measure must be a BASE measure (a post-agg calc has no
            # fact-side expression to aggregate conditionally)
            fn, ref, cut_str = sa.groups()
            if cube.calc_member(ref) is not None:
                raise ParseError(
                    f"set aggregate over calculated member {ref!r} is "
                    "not supported (no fact-side expression to "
                    "re-aggregate); reference a base measure")
            try:
                cube.measure(ref)
            except KeyError:
                raise ParseError(
                    f"set aggregate references unknown measure {ref!r}")
            new.append(CalculatedMember(
                name, alias, set_of=ref, set_fn=fn, set_cut=cut_str))
            continue
        rk = re.fullmatch(r"\{rank:([^:}]*):(asc|desc|pos):([^}]+)\}", tmpl)
        if rk:
            # RANK(<level>.CurrentMember, [ordered] <level>.Members):
            # rank of each axis member of the level by a measure (or
            # its key-order ordinal) — resolved against the catalog
            # here for a clear 400, windowed post-agg
            ref, direction, lvl_path = rk.groups()
            segs = lvl_path.split(".")
            hier_name = segs[1] if len(segs) == 3 else None
            dim, _, level = _resolve_level(
                cube, segs[0], hier_name, segs[-1])
            new.append(CalculatedMember(
                name, alias,
                rank_of=measure_alias(ref) if ref else None,
                rank_dim=dim.name, rank_level=level.name,
                rank_asc=direction == "asc"))
            continue
        expr = re.sub(r"\{m:([^}]+)\}", resolve, tmpl)
        new.append(CalculatedMember(name, alias, expr=expr))
    return dataclasses.replace(
        cube, calc_members=cube.calc_members + tuple(new))


_TMPL_REF_RE = re.compile(r"\{m:([^}]+)\}")


def _tmpl_refs(tmpl: str) -> list[str]:
    """Measure names referenced by a {m:Name} expression template."""
    return _TMPL_REF_RE.findall(tmpl)


def _ref_alias(cube: Cube, ref: str) -> str:
    """Measure/calc-member NAME -> post-agg alias (400 on unknown)."""
    c = cube.calc_member(ref)
    if c is not None:
        return c.alias
    try:
        return cube.measure(ref).alias
    except KeyError:
        raise ParseError(f"unknown measure {ref!r} in expression")


def _apply_filter_exprs(cube: Cube, out: DataFrame, qm) -> DataFrame:
    """General HAVING conditions (raw-MDX FILTER over measure
    arithmetic, QueryModel.filter_exprs): templates resolve to post-agg
    aliases and run as one Catalyst filter each — same stage as the
    measure-vs-literal HAVING, nothing leaves the JVM."""
    for tmpl in qm.filter_exprs:
        expr = _TMPL_REF_RE.sub(lambda m: _ref_alias(cube, m.group(1)), tmpl)
        try:
            out = out.filter(F.expr(expr))
        except ParseError:
            raise
        except Exception as e:
            raise ParseError(f"invalid FILTER condition {expr!r}: {e}") from e
    return out


def _with_user_col(df: DataFrame, alias: str, expr: str, what: str) -> DataFrame:
    """``withColumn`` over a USER-supplied formula (WITH MEMBER
    template, or a catalog calc member).  The MDX tokenizer admits only
    known token KINDS, not token ORDER, so a degenerate sequence like
    ``/ line_count`` reaches Spark's SQL parser — whose ParseException
    (raised at withColumn time; F.expr itself is lazy in Spark 4) must
    surface as a client 400, never a 500 (found by the MDX mutation
    fuzz)."""
    try:
        return df.withColumn(alias, F.expr(expr))
    except ParseError:
        raise
    except Exception as e:
        raise ParseError(
            f"invalid calculated-member formula for {what!r}: {e}") from e


def _split_measures(cube: Cube, names: list[str]):
    """Requested names -> (base measures needed, calc members, final aliases)."""
    if not names:
        names = [cube.default_measure.name]
    final_aliases: list[str] = []
    calcs: list = []
    base: dict[str, Measure] = {}
    for n in names:
        c = cube.calc_member(n)
        if c is not None:
            calcs.append(c)
            final_aliases.append(c.alias)
        else:
            m = cube.measure(n)
            base[m.alias] = m
            final_aliases.append(m.alias)
    # dependency closure: calc exprs / lag refs pull in base measures
    # and other calc members (WITH MEMBER may reference schema calcs)
    pending = list(calcs)
    while pending:
        c = pending.pop()
        if c.run_of:
            try:
                m = cube.measure(c.run_of)
                base.setdefault(m.alias, m)
            except KeyError:
                other = cube.calc_member(c.run_of)
                if other is None:
                    raise
                if other not in calcs:
                    calcs.append(other)
                    pending.append(other)
        if c.lag_of:
            try:
                m = cube.measure(c.lag_of)
                base.setdefault(m.alias, m)
            except KeyError:
                # lag over another calc member (e.g. WITH MEMBER
                # PARALLELPERIOD of a schema calc)
                other = cube.calc_member(c.lag_of)
                if other is None:
                    raise
                if other not in calcs:
                    calcs.append(other)
                    pending.append(other)
        if c.rank_of:
            # the RANK window orders by an alias: pull in its base
            # measure (or the calc member it names) even when the
            # ranked measure itself is not displayed
            for m in cube.measures:
                if m.alias == c.rank_of:
                    base.setdefault(m.alias, m)
                    break
            else:
                for other in cube.calc_members:
                    if other.alias == c.rank_of and other not in calcs:
                        calcs.append(other)
                        pending.append(other)
                        break
        if c.expr:
            for m in cube.measures:
                if m.alias in c.expr:
                    base.setdefault(m.alias, m)
            for other in cube.calc_members:
                if other not in calcs and other.alias in c.expr:
                    calcs.append(other)
                    pending.append(other)
    # keep cube calc order (dependencies between calcs evaluate in order)
    calcs = [c for c in cube.calc_members if c in calcs]
    return list(base.values()), calcs, final_aliases


_AGG_FNS = {
    "sum": F.sum, "count": F.count, "avg": F.avg,
    "min": F.min, "max": F.max,
    "count_distinct": lambda c: F.countDistinct(c),
    # the scale path for non-additive distinct counts (SURVEY
    # §7.5.3): HyperLogLog++ sketch, single partial+final pass, no
    # Expand; exact count_distinct stays the correctness oracle
    "approx_count_distinct": lambda c: F.approx_count_distinct(c, 0.01),
    # exact interpolated percentile; like count_distinct it is
    # non-additive (full sort per group) — never rollup-routed
    "median": F.median,
    # the sketch path for percentiles at scale: bounded-memory
    # mergeable summaries, single partial+final pass, no sort
    # (accuracy 10000 ~= 0.01% rank error)
    "approx_median": lambda col: F.approx_percentile(col, 0.5, 10000),
    # Datasketches HLL sketch (binary, MERGEABLE) — the rollup-layout
    # companion of approx_count_distinct: union-of-sketches equals
    # sketch-of-union, so a rollup can answer approx-distinct at any
    # covering grain (plans/rollup.py).  lgConfigK=14 ~= 0.8% rsd,
    # matching the 1% approx_count_distinct declaration.
    "hll_sketch": lambda c: F.hll_sketch_agg(c, F.lit(14)),
}


def _agg_expr(m: Measure):
    col = _AGG_FNS[m.agg](F.expr(m.expr))
    if m.result_cast:
        col = col.cast(m.result_cast)
    return col.alias(m.alias)


#: outer (merge) aggregator per fine-grain aggregator for the
#: two-phase grouping-sets path: partial counts merge by SUM, the
#: rest by themselves.  Only these four are mergeable — avg, the
#: distinct counts, medians and sketches fall back to the one-phase
#: Expand aggregate.
_GS_MERGE_FNS = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def _gs_two_phase(base: DataFrame, sets: list, group_cols: list,
                  agg_specs: list, marker_cols: list) -> DataFrame | None:
    """Two-phase grouping-sets aggregate (r14 optimization round,
    guide §2.3 "aggregate before you shuffle"): ``Expand`` replicates
    every FACT row once per grouping set before the partial
    aggregation, so a k-dim mixed-depth axis pays 2^k hash-agg probes
    per fact row and shuffles 2^k partial states.  When every measure
    is mergeable (sum/count/min/max, including the conditional
    fact-side set aggregates), aggregating at the finest grain FIRST
    and running the grouping sets over that axis-sized aggregate is
    algebraically identical: the grouping sets partition the fine
    groups exactly as they partition the facts, and sum/min/max are
    associative while count merges by sum.  ``grouping()`` markers are
    computed on the outer aggregate, where the same key columns roll
    up.

    Exactness guard: a fine-grain SUM whose result type is not
    decimal or integral (i.e. a raw float sum) is order-dependent, so
    those fall back to the one-phase form (``None``), as does any
    non-mergeable aggregator.  Result casts apply on the OUTER
    aggregate only; an uncast sum is cast back to the fine column's
    own sum type so the output schema is bit-identical to the
    one-phase plan.

    At 100 TB: the fact is scanned and partially aggregated ONCE (not
    2^k times), the big exchange carries one partial state per fine
    group, and the Expand multiplies only the axis-sized aggregate.

    ``agg_specs``: [(alias, fine_fn_name, fine_col, result_cast)]."""
    from pyspark.sql.types import DecimalType, IntegralType
    for _, fn, _, _ in agg_specs:
        if fn not in _GS_MERGE_FNS:
            return None
    fine = base.groupBy(*group_cols).agg(*[s[2] for s in agg_specs])
    merges = []
    for alias, fn, _, cast in agg_specs:
        dt = fine.schema[alias].dataType
        if fn == "sum" and not isinstance(dt, (DecimalType, IntegralType)):
            return None   # float sum: order-dependent, keep one-phase
        col = _GS_MERGE_FNS[fn](F.col(alias))
        merges.append(col.cast(cast or dt).alias(alias))
    return (fine.groupingSets(sets, *group_cols)
                .agg(*merges, *marker_cols))


def _set_agg_col(c, rc: "ResolvedCut", m: Measure):
    """Fact-side WITH MEMBER set aggregate -> a conditional aggregate
    column in the SAME groupBy as the other measures: fn(CASE WHEN
    <member-set predicate> THEN <measure expr> END).  All aggregators
    here ignore nulls, so the when() restriction is exact; the
    predicate runs on the dim-attached level aliases and stays in
    whole-stage codegen.  Only used when _set_agg_fact_side proves the
    fact-side form equals Mondrian's member-value aggregation."""
    fn_name = m.agg if c.set_fn == "aggregate" else c.set_fn
    if fn_name not in _AGG_FNS:
        raise ParseError(
            f"set aggregate {c.name!r}: unsupported aggregator "
            f"{fn_name!r}")
    col = _AGG_FNS[fn_name](F.when(_cut_predicate(rc), F.expr(m.expr)))
    if m.result_cast and fn_name in ("sum", "min", "max", "avg"):
        col = col.cast(m.result_cast)
    return col.alias(c.alias)


#: outer aggregators for MEMBER-VALUE set aggregates: Mondrian's
#: Avg/Min/Max/Median/Stdev/Var(set, m) evaluate m at EACH member of
#: the set (the member's cell value = m's own aggregator restricted to
#: that member, in the current axis context) and then aggregate the
#: member VALUES — e.g. MAX({1995,1996}, Revenue) is the larger of the
#: two yearly revenue totals, not the largest fact row.  Stdev/Var are
#: sample statistics (Mondrian's Stdev/Var; *P = population).  COUNT
#: is the number of members with a non-empty value — Mondrian's
#: Count(Filter(set, Not IsEmpty(m))) / Count(set, EXCLUDEEMPTY).
_SET_MEMBER_FNS = {
    "sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max,
    "count": F.count, "median": F.median,
    "stdev": F.stddev_samp, "stdevp": F.stddev_pop,
    "var": F.var_samp, "varp": F.var_pop,
}


def _set_agg_fact_side(c, m: Measure) -> bool:
    """True when one conditional fact-side aggregate provably equals
    the member-value aggregation, i.e. the outer fn distributes over
    the member partition of the facts: AGGREGATE (Mondrian applies the
    measure's own rollup over the union — exactly the conditional
    aggregate, for avg measures included), SUM of sum/count member
    values, and MIN/MAX of min/max member values.  Everything else
    (AVG/MEDIAN/STDEV/VAR/COUNT, or a mismatched fn/measure pair like
    MAX(set, <sum measure>)) aggregates member VALUES in a second,
    axis-grained pass."""
    fn = c.set_fn
    if fn == "aggregate":
        return True
    if fn == m.agg and fn in ("sum", "min", "max"):
        return True
    return fn == "sum" and m.agg == "count"


def _validate_generate_nested(cube: Cube, qm: QueryModel, g_path: str,
                              dim, hier, level, idx: int) -> None:
    """Nested GENERATE (r12): the parser flattened GENERATE(L1.Members,
    GENERATE(<nav to Lmid>, inner)) to GENERATE(Lmid.Members, inner) —
    exact because the outer iterates the FULL L1 level and the union of
    every L1 member's children/descendants at Lmid is Lmid's full
    member set.  Validate the ancestry the flattening relied on; called
    from BOTH the base-cube gen_specs loop and the virtual drill-across
    branch (the surfaces must reject identically)."""
    for nst_flat, nst_path, nst_mode in \
            getattr(qm, "generate_nested", []) or []:
        if nst_flat != g_path:
            continue
        nsegs = nst_path.split(".")
        ndim, nhier, nlevel = _resolve_level(
            cube, nsegs[0], nsegs[1] if len(nsegs) == 3 else None,
            nsegs[-1])
        if ndim.name != dim.name or nhier.name != hier.name:
            raise ParseError(
                f"nested GENERATE outer level {nlevel.name!r} must "
                f"be on the same hierarchy as {level.name!r}")
        nidx = nhier.level_index(nlevel.name)
        if nst_mode == "children" and nidx + 1 != idx:
            raise ParseError(
                f"nested GENERATE: {level.name!r} is not the "
                f"immediate child level of {nlevel.name!r} (the "
                ".Children navigation would be vacuous)")
        if nst_mode == "descendants" and nidx >= idx:
            raise ParseError(
                f"nested GENERATE: DESCENDANTS level "
                f"{level.name!r} must be below the outer level "
                f"{nlevel.name!r}")


def _aggregate_cube(spark: SparkSession, sf_dir: str, cube: Cube,
                    qm: QueryModel, fact_df: DataFrame | None = None) -> DataFrame:
    ns_names = {s.name for s in cube.named_sets}

    # --- resolve drilldowns (named-set shortcut => drill + implicit cut) ---
    drills: list[ResolvedDrill] = []
    implicit_ns_cuts: list[str] = []
    for d in qm.drilldown:
        parsed = parse_drilldown(d, ns_names)
        if isinstance(parsed, str):
            ns = cube.named_set(parsed)
            dim, hier, level = _resolve_level(cube, ns.dimension, None, ns.level)
            idx = hier.level_index(level.name)
            gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
            drills.append(ResolvedDrill(dim, hier, level, gl))
            implicit_ns_cuts.append(parsed)
        else:
            drills.append(_resolve_drill(cube, parsed, qm.parents))

    # --- resolve cuts ---
    cuts = [_resolve_cut(cube, parse_cut(c, ns_names)) for c in qm.cut]
    # client-supplied cuts validate member existence (r13); cuts the
    # planner derives below (navigation, axis selections) come from
    # the data and exist by construction.  VIRTUAL sub-queries skip —
    # the drill-across path validated against the UNION member set
    # (a member present in only one base cube contributes empty cells
    # on the other side, it is not a 400)
    if not getattr(qm, "vc_skip_cut_validation", False):
        for rc in cuts:
            _validate_cut_members(spark, sf_dir, cube, rc)
    for name in implicit_ns_cuts:
        cuts.append(_resolve_cut(cube, Cut(kind="named_set", named_set=name)))

    # --- VISUALTOTALS child-ancestry validation (r10, ADVICE r9) ---
    # Without this, a child listed under the WRONG parent leaks its
    # facts into its own parent's grouping-sets subtotal row (which
    # survives NON EMPTY) while the child row itself is dropped by the
    # DRILLDOWNMEMBER subset filter — a spurious unlisted parent row
    # plus a silently missing listed member.  Check each listed
    # child's ancestor key at the parent level on the dimension frame
    # (one tiny broadcast-dim scan at plan time), 400 on mismatch, and
    # AND a cut on the parent member so foreign facts can never enter
    # the aggregate (also prunes the dim scan).
    for vt_parent, vt_children in getattr(qm, "visual_totals", []) or []:
        parent_rc = _resolve_cut(cube, parse_cut(vt_parent, ns_names))
        child_rc = _resolve_cut(cube, parse_cut(vt_children, ns_names))
        vt_frame = _dim_select(
            spark, sf_dir, parent_rc.dimension,
            [parent_rc.level, child_rc.level])
        bad = (vt_frame
               .filter(_cut_predicate(child_rc)
                       & ~_cut_predicate(parent_rc))
               .select(child_rc.level.key_alias).distinct()
               .limit(5).collect())
        if bad:
            raise ParseError(
                "VISUALTOTALS: member(s) with "
                f"{child_rc.level.name!r} key "
                f"{sorted(str(r[0]) for r in bad)} are not children of "
                f"the listed parent {vt_parent}")
        cuts.append(parent_rc)

    # --- parent-child cuts: subtree restrictions on the FACTS, never
    # --- axis predicates (r10, VERDICT r9 #1).  A member slicer keeps
    # --- every fact in the member's subtree, so a drilled pc axis
    # --- shows the member, its descendants AND its ancestors with
    # --- subtree-restricted totals — exactly Mondrian's cell-context
    # --- semantics; a key predicate on the fanned-out frame would
    # --- instead collapse the axis to the cut member.  Compiled below
    # --- (after the base frame exists) as a semi-join against the
    # --- closure's DISTINCT descendants, so nested set cuts {X, Y⊂X}
    # --- never double-count a fact. ---
    pc_cuts = [rc for rc in cuts if rc.dimension.parent_child is not None]
    cuts = [rc for rc in cuts if rc.dimension.parent_child is None]
    for rc in pc_cuts:
        if rc.cut.kind not in ("member", "set"):
            raise ParseError(
                f"parent-child dimension {rc.dimension.name!r} supports "
                f"member and set cuts only, not {rc.cut.kind!r} (no "
                "ordinal order is defined over a recursive hierarchy)")

    # --- member-navigation FILTER conditions (raw MDX, VERDICT r8 #3:
    # --- `lvl.CurrentMember.Parent IS m` / `ANCESTOR(...) IS m`):
    # --- validate the level distance against the catalog, then compile
    # --- to an ordinary ancestor cut (key predicate pushed to the
    # --- scans like any slicer) ---
    for lvl_str, rel, m_str in getattr(qm, "nav_filters", []):
        lsegs = parse_segments(lvl_str)
        dim, hier, level = _resolve_level(
            cube, lsegs[0], lsegs[1] if len(lsegs) == 3 else None,
            lsegs[-1])
        rc = _resolve_cut(cube, parse_cut(m_str, ns_names))
        if (rc.dimension.name != dim.name
                or rc.hierarchy.name != hier.name):
            raise ParseError(
                f"navigation condition on level {level.name!r} "
                f"compares a member of another hierarchy "
                f"({rc.dimension.name}.{rc.hierarchy.name})")
        li = hier.level_index(level.name)
        ci = hier.level_index(rc.level.name)
        if rel == "parent":
            if li == 0:
                raise ParseError(
                    f".Parent: level {level.name!r} is the root of "
                    f"hierarchy {hier.name!r}")
            if ci != li - 1:
                raise ParseError(
                    f".Parent of level {level.name!r} is "
                    f"{hier.levels[li - 1].name!r}; the comparison "
                    f"member is at level {rc.level.name!r}")
        elif ci >= li:
            raise ParseError(
                f"ANCESTOR ... IS: {rc.level.name!r} is not a proper "
                f"ancestor level of {level.name!r}")
        cuts.append(rc)

    # --- <member>.Children (raw-MDX axis idiom; Mondrian accepts via
    # --- reference api.rb:21-50): drill the member's CHILD level,
    # --- sliced to the member — catalog-aware, hence resolved here ---
    # implicit member slices that DEFINE an idiom axis's member set
    # (.Children/.Siblings/OPENINGPERIOD): recorded per axis index so
    # dense mode restricts THAT axis's member frame (a WHERE cut, by
    # contrast, constrains facts and leaves dense axes full)
    axis_cuts: list[tuple[int, ResolvedCut]] = []

    for ch in qm.children_of:
        segs = parse_segments(ch)
        if len(segs) < 3:
            raise ParseError(
                f".Children needs [Dim].[Level].[member], got {ch!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        if idx + 1 >= len(hier.levels):
            raise ParseError(
                f"{ch!r}.Children: {level.name!r} is the leaf level of "
                f"hierarchy {hier.name!r}")
        child = hier.levels[idx + 1]
        gl = list(hier.levels[: idx + 2]) if qm.parents else [child]
        drills.append(ResolvedDrill(dim, hier, child, gl))
        rc = _resolve_cut(cube, parse_cut(ch, ns_names))
        cuts.append(rc)
        axis_cuts.append((len(drills) - 1, rc))

    # --- <member>.Siblings (raw-MDX member navigation): children of
    # --- the member's parent = drill the member's OWN level + cut to
    # --- the parent member (dim-side bounded lookup, like .Parent);
    # --- a top-level member's siblings are ALL members of its level ---
    for sb in qm.siblings_of:
        segs = parse_segments(sb)
        if len(segs) < 3:
            raise ParseError(
                f".Siblings needs [Dim].[Level].[member], got {sb!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        drills.append(ResolvedDrill(dim, hier, level, gl))
        if idx == 0:
            continue   # root level: every member is a sibling
        if dim.is_degenerate:
            raise ParseError(
                f"{sb!r}.Siblings: not supported on degenerate "
                f"dimension {dim.name!r} (member keys repeat per parent)")
        parent = hier.levels[idx - 1]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        rows = (_dim_select(spark, sf_dir, dim, [parent, level])
                .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                .select(parent.key_alias).distinct().limit(2).collect())
        if len(rows) != 1:
            raise ParseError(
                f"{sb!r}: member not found"
                if not rows else f"{sb!r}: parent is ambiguous")
        cut_str = ".".join(f"[{s}]" for s in
                           segs[:-2] + [parent.name, f"&{rows[0][0]}"])
        rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
        cuts.append(rc)
        axis_cuts.append((len(drills) - 1, rc))

    # --- <member>.FirstSibling / .LastSibling (raw-MDX member
    # --- navigation): the first/last child of the member's parent in
    # --- level key order (a top-level member's FirstSibling = the
    # --- level's first member) — drill the member's OWN level + cut to
    # --- the edge sibling's key, via bounded dim-side lookups ---
    for sb_path, want_last in qm.edge_sibling_of:
        label = ".LastSibling" if want_last else ".FirstSibling"
        segs = parse_segments(sb_path)
        if len(segs) < 3:
            raise ParseError(
                f"{label} needs [Dim].[Level].[member], got {sb_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        if dim.is_degenerate:
            # consistent with .Siblings: degenerate member keys repeat
            # per parent, so "the member's parent" is ambiguous
            raise ParseError(
                f"{sb_path!r}{label}: not supported on degenerate "
                f"dimension {dim.name!r} (member keys repeat per parent)")
        idx = hier.level_index(level.name)
        gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        drills.append(ResolvedDrill(dim, hier, level, gl))
        edge_order = (F.desc(level.key_alias) if want_last
                      else F.asc(level.key_alias))
        if idx == 0:
            # root level: the level's overall first/last member
            rows = (_dim_select(spark, sf_dir, dim, [level])
                    .select(level.key_alias).distinct()
                    .orderBy(edge_order).limit(1).collect())
            if not rows:
                raise ParseError(f"{sb_path!r}{label}: level "
                                 f"{level.name!r} has no members")
            cut_str = ".".join(f"[{s}]" for s in
                               segs[:-1] + [f"&{rows[0][0]}"])
            rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
            cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))
            continue
        parent = hier.levels[idx - 1]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        prows = (_dim_select(spark, sf_dir, dim, [parent, level])
                 .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                 .select(parent.key_alias).distinct().limit(2).collect())
        if len(prows) != 1:
            raise ParseError(
                f"{sb_path!r}{label}: member not found"
                if not prows else f"{sb_path!r}{label}: parent is "
                "ambiguous")
        srows = (_dim_select(spark, sf_dir, dim, [parent, level])
                 .filter(F.col(parent.key_alias) == F.lit(prows[0][0]))
                 .select(level.key_alias).distinct()
                 .orderBy(edge_order).limit(1).collect())
        # the parent came from the member, so it has >=1 child
        for lv, key in ((parent, prows[0][0]), (level, srows[0][0])):
            cut_str = ".".join(f"[{s}]" for s in
                               segs[:-2] + [lv.name, f"&{key}"])
            rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
            cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))

    # --- <member>.FirstChild / .LastChild (raw-MDX member navigation):
    # --- drill the CHILD level sliced to the member AND the edge child
    # --- key (min/max under the member — one dim-sized aggregate,
    # --- bounded 1-row collect; never touches the fact) ---
    for ec in qm.edge_child_of:
        # (member_path, last) from .FirstChild/.LastChild, or
        # (member_path, last, target_level) from OPENINGPERIOD/
        # CLOSINGPERIOD — the generalized form walks to ANY descendant
        # level: the opening period is the LEXICOGRAPHIC min of the
        # level-key chain under the member (hierarchy order == key
        # order on every level), one bounded dim-side orderBy-limit-1,
        # never the fact
        ec_path, want_last = ec[0], ec[1]
        target_name = ec[2] if len(ec) > 2 else None
        label = (".LastChild" if want_last else ".FirstChild") \
            if target_name is None else \
            ("CLOSINGPERIOD" if want_last else "OPENINGPERIOD")
        segs = parse_segments(ec_path)
        if len(segs) < 3:
            raise ParseError(
                f"{label} needs [Dim].[Level].[member], got {ec_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        if idx + 1 >= len(hier.levels):
            raise ParseError(
                f"{ec_path!r}{label}: {level.name!r} is the leaf level "
                f"of hierarchy {hier.name!r}")
        if dim.is_degenerate:
            # consistent with .Parent: degenerate child keys live on
            # the fact, so the lookup would be a fact scan
            raise ParseError(
                f"{ec_path!r}{label}: not supported on degenerate "
                f"dimension {dim.name!r}")
        if target_name is None:
            tgt_idx = idx + 1
        else:
            try:
                tgt_idx = hier.level_index(target_name)
            except KeyError:
                raise ParseError(
                    f"{label}: hierarchy {hier.name!r} has no level "
                    f"{target_name!r}")
            if tgt_idx <= idx:
                raise ParseError(
                    f"{label}: level {target_name!r} must be BELOW the "
                    f"member's level {level.name!r}")
        chain = list(hier.levels[idx:tgt_idx + 1])
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        order = [F.desc(lv.key_alias) if want_last else F.asc(lv.key_alias)
                 for lv in chain[1:]]
        rows = (_dim_select(spark, sf_dir, dim, chain)
                .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                .orderBy(*order).limit(1).collect())
        if not rows:
            raise ParseError(f"{ec_path!r}{label}: member not found "
                             "or has no children")
        row = rows[0].asDict()
        target = hier.levels[tgt_idx]
        gl = list(hier.levels[: tgt_idx + 1]) if qm.parents else [target]
        drills.append(ResolvedDrill(dim, hier, target, gl))
        # cut to the member (like .Children) AND each walked level's
        # key — the chain stays correct even when keys repeat per
        # parent (quarter 1-4 every year)
        rc = _resolve_cut(cube, parse_cut(ec_path, ns_names))
        cuts.append(rc)
        axis_cuts.append((len(drills) - 1, rc))
        for lv in chain[1:]:
            cut_str = ".".join(
                f"[{s}]" for s in
                segs[:-2] + [lv.name, f"&{row[lv.key_alias]}"])
            rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
            cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))

    # --- <member>.Parent (raw-MDX axis idiom): drill the PARENT level
    # --- sliced to the member's parent, looked up on the DIM side
    # --- (bounded: <=2 rows collected; never touches the fact) ---
    for pp in qm.parent_of:
        segs = parse_segments(pp)
        if len(segs) < 3:
            raise ParseError(
                f".Parent needs [Dim].[Level].[member], got {pp!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        if idx == 0:
            raise ParseError(
                f"{pp!r}.Parent: {level.name!r} is the top level of "
                f"hierarchy {hier.name!r}")
        if dim.is_degenerate:
            # this catalog's degenerate time levels have per-parent
            # repeating keys (quarter 1-4 every year), so 'the parent
            # of [Quarter].[2]' is not a single member
            raise ParseError(
                f"{pp!r}.Parent: not supported on degenerate dimension "
                f"{dim.name!r} (member keys repeat per parent)")
        parent = hier.levels[idx - 1]
        raw = segs[-1]
        # member value semantics match REST cuts: caption unless [&key]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        rows = (_dim_select(spark, sf_dir, dim, [parent, level])
                .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                .select(parent.key_alias).distinct().limit(2).collect())
        if len(rows) != 1:
            raise ParseError(
                f"{pp!r}: member not found"
                if not rows else f"{pp!r}: parent is ambiguous")
        gl = list(hier.levels[:idx]) if qm.parents else [parent]
        drills.append(ResolvedDrill(dim, hier, parent, gl))
        cut_str = ".".join(f"[{s}]" for s in
                           segs[:-2] + [parent.name, f"&{rows[0][0]}"])
        cuts.append(_resolve_cut(cube, parse_cut(cut_str, ns_names)))

    # --- ANCESTOR(<member>, <level>) (raw-MDX axis idiom): drill the
    # --- ANCESTOR level sliced to the member's ancestor — .Parent
    # --- generalized to any height.  Dim-backed dims: one bounded
    # --- dim-side lookup.  Degenerate dims: allowed when the member
    # --- level's keys are globally unique (Day dates), where the
    # --- fact-derived lookup is memoized like LASTPERIODS windows;
    # --- repeating-key levels 400 (the member reference is ambiguous).
    for anc_path, target_name in qm.ancestor_of:
        segs = parse_segments(anc_path)
        if len(segs) < 3:
            raise ParseError(
                f"ANCESTOR needs [Dim].[Level].[member], got {anc_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        try:
            tgt_idx = hier.level_index(target_name)
        except (KeyError, ValueError):
            raise ParseError(
                f"ANCESTOR: hierarchy {hier.name!r} has no level "
                f"{target_name!r}")
        if tgt_idx > idx:
            raise ParseError(
                f"ANCESTOR: level {target_name!r} must be AT or ABOVE "
                f"the member's level {level.name!r}")
        if tgt_idx == idx:
            # Mondrian: Ancestor(m, m.Level) is the member itself
            gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
            drills.append(ResolvedDrill(dim, hier, level, gl))
            rc = _resolve_cut(cube, parse_cut(anc_path, ns_names))
            cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))
            continue
        if dim.is_degenerate and _degenerate_keys_repeat(
                spark, sf_dir, cube, dim, hier, level):
            raise ParseError(
                f"ANCESTOR: not supported on level {level.name!r} of "
                f"degenerate dimension {dim.name!r} (member keys repeat "
                f"per parent, so the member reference is ambiguous)")
        target = hier.levels[tgt_idx]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias

        def ancestor_keys():
            if dim.is_degenerate:
                exprs = {target.key_alias: target.key,
                         level.key_alias: level.key}
                if use_caption:
                    exprs[level.caption_alias] = level.caption
                keys_src = load_table(spark, sf_dir, cube.fact).select(
                    *[F.expr(e).alias(a) for a, e in exprs.items()])
            else:
                keys_src = _dim_select(spark, sf_dir, dim, [target, level])
            return [r[0] for r in
                    (keys_src
                     .filter(F.col(match_col)
                             == F.lit(_coerce(raw.lstrip("&"))))
                     .select(target.key_alias).distinct()
                     .limit(2).collect())]
        keys = plancache.get(
            "member_keys", (sf_dir, cube.name, dim.name, level.name,
                            repr(raw), target_name, "ancestor"),
            _files(sf_dir, [cube.fact] + _dim_tables(dim)), ancestor_keys)
        if len(keys) != 1:
            raise ParseError(
                f"ANCESTOR({anc_path!r}): member not found"
                if not keys else
                f"ANCESTOR({anc_path!r}): ancestor is ambiguous")
        gl = list(hier.levels[: tgt_idx + 1]) if qm.parents else [target]
        drills.append(ResolvedDrill(dim, hier, target, gl))
        cut_str = ".".join(f"[{s}]" for s in
                           segs[:-2] + [target.name, f"&{keys[0]}"])
        rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
        cuts.append(rc)
        axis_cuts.append((len(drills) - 1, rc))

    # --- LASTPERIODS(n, <member>) (raw-MDX axis idiom): the n level
    # --- keys ending at the member, as an IN-literal cut pushed to the
    # --- scans (same shape as named-set memoization).  Keys order by
    # --- the level's global key order — right for Year/Day calendar
    # --- units and any totally-keyed level; degenerate levels whose
    # --- keys repeat per parent (quarter 1-4 every year) are rejected
    # --- with a 400 like .Parent, since key-order steps there would
    # --- silently cross parents (_degenerate_keys_repeat) ---
    for lp_path, n_periods in qm.lastperiods:
        dim, hier, level, cut_str = resolve_lastperiods(
            spark, sf_dir, cube, lp_path, n_periods)
        idx = hier.level_index(level.name)
        gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        drills.append(ResolvedDrill(dim, hier, level, gl))
        cuts.append(_resolve_cut(cube, parse_cut(cut_str, ns_names)))

    # --- PERIODSTODATE(<ancestor level>, <member>) (raw-MDX axis
    # --- idiom): all members of the member's level from the opening of
    # --- its ancestor period through the member — drill the member's
    # --- level + ancestor-chain cuts + a key-range cut, via bounded
    # --- memoized lookups (degenerate time dims look up on the fact,
    # --- cached like LASTPERIODS windows; the member's level must not
    # --- have repeating keys, or the member reference is ambiguous) ---
    for anchor_name, m_path in qm.periods_to_date:
        dim, hier, level, cut_strs = resolve_ptd(
            spark, sf_dir, cube, anchor_name, m_path)
        idx = hier.level_index(level.name)
        gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        drills.append(ResolvedDrill(dim, hier, level, gl))
        for cut_str in cut_strs:
            rc = _resolve_cut(cube, parse_cut(cut_str, ns_names))
            cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))

    # --- <member>.Lag(n) / .Lead(n) (raw-MDX axis idiom): the single
    # --- member n positions earlier/later along the level's key order,
    # --- as a drilldown + member-key cut.  Same key-order boundary as
    # --- LASTPERIODS; out-of-range shifts are a 400 (Mondrian yields a
    # --- null member there — an empty axis; a clear error beats a
    # --- silently empty result in a REST API) ---
    for lg_path, shift in qm.member_lags:
        dim, hier, level, cut_str = resolve_member_lag(
            spark, sf_dir, cube, lg_path, shift)
        idx = hier.level_index(level.name)
        gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        drills.append(ResolvedDrill(dim, hier, level, gl))
        cuts.append(_resolve_cut(cube, parse_cut(cut_str, ns_names)))

    # --- GENERATE(<level>.Members, TOPCOUNT(<level>.CurrentMember
    # --- .Children, n, m)) (raw-MDX per-parent top-N idiom): drill
    # --- the (parent, child) level pair; the per-parent row_number
    # --- window runs post-agg (axis-sized, never the fact) ---
    generate_levels = None
    gen_axes: list[tuple] = []   # (ResolvedDrill, level, child, n, m, asc)
    gen_specs = ([(qm.generate_top
                   + ((getattr(qm, "generate_inner", None)
                       or ("measure", None))[1],))]
                 if qm.generate_top is not None else [])
    gen_specs += [(p, n, m, a, t) for p, n, m, a, _, t in
                  getattr(qm, "generate_more", []) or []]
    for g_path, g_n, g_m, g_asc, g_target in gen_specs:
        segs = g_path.split(".")
        hier_name = segs[1] if len(segs) == 3 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-1])
        idx = hier.level_index(level.name)
        if g_target is None:
            if idx + 1 >= len(hier.levels):
                raise ParseError(
                    f"GENERATE: {level.name!r} is the leaf level of "
                    f"hierarchy {hier.name!r}; .Children needs a level "
                    f"below")
            tgt_idx = idx + 1
        else:
            # DESCENDANTS(<outer>.CurrentMember, <target>) inner set:
            # any PROPER descendant level of the outer one
            try:
                tgt_idx = hier.level_index(g_target)
            except (KeyError, ValueError):
                raise ParseError(
                    f"GENERATE: unknown DESCENDANTS level "
                    f"{g_target!r} in hierarchy {hier.name!r}")
            if tgt_idx <= idx:
                raise ParseError(
                    f"GENERATE: DESCENDANTS level {g_target!r} must "
                    f"be below the outer level {level.name!r}")
        _validate_generate_nested(cube, qm, g_path, dim, hier, level,
                                  idx)
        if any(rd.dimension.name == dim.name for rd in drills):
            raise ParseError(
                f"GENERATE over dimension {dim.name!r} cannot be "
                "combined with another axis set on the same dimension")
        # degenerate dims need no navigability probe here: GENERATE
        # names no member literal, and the parent key partitions the
        # window, so repeating child keys stay unambiguous
        if g_m is not None:             # HEAD/TAIL rank on key order
            _measure_alias(cube, g_m)   # unknown measure -> clear 400
        child = hier.levels[tgt_idx]
        gl = (list(hier.levels[: tgt_idx + 1]) if qm.parents
              else [level, child])
        rd_g = ResolvedDrill(dim, hier, child, gl)
        drills.append(rd_g)
        gen_axes.append((rd_g, level, child, g_n, g_m, g_asc))
        if generate_levels is None:
            generate_levels = (level, child)

    # --- DRILLDOWNLEVEL / DRILLDOWNMEMBER / VISUALTOTALS (raw MDX):
    # --- mixed-depth axes = ONE grouping-sets aggregate; parent
    # --- subtotal rows carry NULL child columns.  r10 (VERDICT r9
    # --- #4): one such axis per DIMENSION — k axes still compile to a
    # --- single Expand pass with 2^k grouping sets, no extra scans ---
    ddl_axes: list[tuple] = []   # (parent_lv, child_lv, subset_rc|None)
    for ddl_spec, ddl_subset in getattr(qm, "gs_axes", []) or []:
        if qm.parents:
            raise ParseError(
                "parents=true cannot combine with DRILLDOWNLEVEL/"
                "DRILLDOWNMEMBER in this MDX subset")
        if qm.generate_top is not None:
            raise ParseError(
                "GENERATE cannot combine with DRILLDOWNLEVEL/"
                "DRILLDOWNMEMBER in this MDX subset")
        segs = ddl_spec.split(".")
        hier_name = segs[1] if len(segs) == 3 else None
        dim, hier, level = _resolve_level(cube, segs[0], hier_name,
                                          segs[-1])
        idx = hier.level_index(level.name)
        if idx + 1 >= len(hier.levels):
            raise ParseError(
                f"DRILLDOWNLEVEL: {level.name!r} is the leaf level of "
                f"hierarchy {hier.name!r}; there is no level to drill "
                f"down to")
        if any(rd.dimension.name == dim.name for rd in drills):
            raise ParseError(
                f"DRILLDOWNLEVEL over dimension {dim.name!r} cannot "
                "be combined with another axis set on the same "
                "dimension")
        child = hier.levels[idx + 1]
        drills.append(ResolvedDrill(dim, hier, child, [level, child]))
        subset_rc = None
        if ddl_subset is not None:
            subset_rc = _resolve_cut(cube, parse_cut(ddl_subset,
                                                     ns_names))
            if (subset_rc.dimension.name != dim.name
                    or subset_rc.level.name != level.name):
                raise ParseError(
                    "DRILLDOWNMEMBER subset members must be on the "
                    f"drilled level {level.name!r}, got "
                    f"{subset_rc.level.name!r}")
        ddl_axes.append((level, child, subset_rc))

    # drilling on an ascendant of a cut member is a client error
    # (reference api_spec.rb:154-157; query_helper.rb:242-245)
    for rd in drills:
        for rc in cuts:
            if rc.cut.kind == "named_set" or rc.dimension.name != rd.dimension.name:
                continue
            if rc.hierarchy.name != rd.hierarchy.name:
                continue
            if rc.hierarchy.level_index(rc.level.name) > rd.hierarchy.level_index(rd.level.name):
                raise ParseError(
                    f"drilldown on {rd.level.name!r} is an ascendant of cut level {rc.level.name!r}")

    # --- properties / caption substitution ---
    caption_overrides: dict = {}
    for c in qm.caption:
        ref = parse_property(c)
        dim, _, level = _resolve_level(cube, ref.dimension, ref.hierarchy,
                                       ref.level)
        caption_overrides[(dim.name, level.name)] = \
            level.find_property(ref.prop).column

    # HAVING/ORDER may reference measures that are not requested for
    # display (Mondrian evaluates them in query context): aggregate
    # them too, but keep the final projection to the requested list
    requested = list(qm.measures) or [cube.default_measure.name]
    extra_names: list[str] = []
    for fs in qm.filter:
        try:
            mname = parse_measure_filter(fs).measure
            _measure_alias(cube, mname)
        except (ParseError, KeyError):
            continue   # malformed filters error in the HAVING step
        if mname not in requested and mname not in extra_names:
            extra_names.append(mname)
    for tmpl in qm.filter_exprs:
        for ref in _tmpl_refs(tmpl):
            _ref_alias(cube, ref)   # unknown measure -> 400 up front
            if ref not in requested and ref not in extra_names:
                extra_names.append(ref)
    if (qm.order and "." not in qm.order and qm.order not in requested
            and qm.order not in extra_names):
        try:
            _measure_alias(cube, qm.order)
            extra_names.append(qm.order)
        except KeyError:
            pass
    for tp in (qm.top_percent, qm.top_sum):
        if tp is not None:
            pname = tp[1]
            if pname not in requested and pname not in extra_names:
                _measure_alias(cube, pname)  # unknown -> KeyError -> 400
                extra_names.append(pname)
    gen_rank_measures = (
        [qm.generate_top[2]] if qm.generate_top is not None else []) + \
        [e[2] for e in getattr(qm, "generate_more", []) or []]
    for pname in gen_rank_measures:
        if (pname is not None and pname not in requested
                and pname not in extra_names):
            _measure_alias(cube, pname)
            extra_names.append(pname)
    for pname in qm.nonempty_measures:
        if pname not in requested and pname not in extra_names:
            _measure_alias(cube, pname)  # unknown -> KeyError -> 400
            extra_names.append(pname)
    for _, _, pname, _ in getattr(qm, "gs_top", []) or []:
        # DRILLDOWNLEVELTOP/BOTTOM rank measures aggregate even when
        # hidden (dropped by the final projection)
        if pname not in requested and pname not in extra_names:
            _measure_alias(cube, pname)  # unknown -> KeyError -> 400
            extra_names.append(pname)
    base_measures, calcs, final_aliases = _split_measures(
        cube, requested + extra_names)
    final_aliases = final_aliases[:len(requested)]

    # --- needed levels per dimension ---
    needed: dict[str, dict[str, Level]] = {}
    dim_objs: dict[str, Dimension] = {}
    for rd in drills:
        dim_objs[rd.dimension.name] = rd.dimension
        lvls = needed.setdefault(rd.dimension.name, {})
        for lv in rd.group_levels:
            lvls[lv.name] = lv
        if rd.level.hide_member_if == "if_parents_name":
            # ragged visibility (r11): the rule compares the drilled
            # member's caption to its PARENT's, so the parent level
            # joins the base frame (pre-agg only — it is not a group
            # column unless itself drilled)
            i = rd.hierarchy.level_index(rd.level.name)
            if i > 0:
                p = rd.hierarchy.levels[i - 1]
                lvls.setdefault(p.name, p)
    for rc in cuts:
        # named-set cuts need their level's key column in the base
        # frame too (the IN-literal predicate filters on it), e.g. a
        # region-level set slicing a nation-level drilldown
        dim_objs[rc.dimension.name] = rc.dimension
        needed.setdefault(rc.dimension.name, {})[rc.level.name] = rc.level
    # --- set-aggregate calc members (WITH MEMBER AGGREGATE/SUM/...):
    # resolve each member-set cut, attach its level to the base frame,
    # and refuse context conflicts (Mondrian REPLACES the hierarchy
    # context for the set's dimension; a conditional aggregate can
    # only INTERSECT with an existing drill/cut on that dimension —
    # a clear 400 beats a silently different answer)
    set_aggs: list[tuple] = []   # (calc, ResolvedCut, Measure)
    for c in calcs:
        if not c.set_of:
            continue
        rc = _resolve_cut(cube, parse_cut(c.set_cut))
        in_context = ({rd.dimension.name for rd in drills} |
                      {x.dimension.name for x in cuts})
        if rc.dimension.name in in_context:
            raise ParseError(
                f"set aggregate {c.name!r} restricts dimension "
                f"{rc.dimension.name!r}, which the query also drills or "
                "slices — Mondrian would replace that context, which "
                "this subset cannot express; drop the drill/cut or the "
                "set aggregate")
        dim_objs[rc.dimension.name] = rc.dimension
        needed.setdefault(rc.dimension.name, {})[rc.level.name] = rc.level
        set_aggs.append((c, rc, cube.measure(c.set_of)))
    prop_seq = resolved_props(cube, qm.properties)
    needed_props = props_by_dim(prop_seq)
    # a property's dimension must be drilled (reference
    # api_helpers.rb parse_properties -> PropertyError -> 400;
    # api_spec 'should fail if requested member properties of a
    # dimension not in drilldown[]').  Joining it anyway would add its
    # level to the group-by and silently change the aggregation grain.
    drilled_levels = {(rd.dimension.name, lv.name)
                      for rd in drills for lv in rd.group_levels}
    for ref in (parse_property(p) for p in qm.properties):
        dim, hier, level = _resolve_level(cube, ref.dimension, ref.hierarchy,
                                          ref.level)
        if dim.name not in {rd.dimension.name for rd in drills}:
            raise ParseError(
                f"Dimension {dim.name!r} not in drilldown list")
        if (dim.name, level.name) not in drilled_levels:
            raise ParseError(
                f"property {ref.prop!r} is on level {level.name!r}, "
                f"which is not in the drilldown list")

    # --- member-property FILTER conditions (raw MDX FILTER(set,
    # --- <level>.CurrentMember.Properties("P") <op> literal)): a
    # --- dim-side predicate on the property column, applied to the
    # --- base frame pre-aggregation AND to the dense member frames
    # --- (the condition restricts the axis member SET, so dense fill
    # --- must not re-add excluded members).  The level must be
    # --- drilled, like displayed properties above ---
    prop_filter_preds: list[tuple] = []   # (dim name, alias, op, value)
    deferred_prop_preds: list[tuple] = []  # same-dim-window: post-rank
    for ref_str, fop, fval in qm.property_filters:
        ref = parse_property(ref_str)
        dim, _, level = _resolve_level(cube, ref.dimension, ref.hierarchy,
                                       ref.level)
        if (dim.name, level.name) not in drilled_levels:
            raise ParseError(
                f"FILTER property {ref.prop!r} is on level "
                f"{level.name!r} of {dim.name!r}, which is not in the "
                "drilldown list — a property condition restricts "
                "drilled members")
        # pre-agg member exclusion commutes with the per-parent window
        # / rank ONLY across dimensions (excluded members take their
        # whole partitions with them); on the SAME dimension Mondrian
        # evaluates GENERATE's TOPCOUNT and RANK's ORDER over the
        # UNFILTERED set (the grammar only admits FILTER *wrapping*
        # the windowed set), so the predicate is DEFERRED to after the
        # window stages (r11, VERDICT r10 #8 — was a 400).  Dense mode
        # keeps the 400: the member-frame restriction _densify applies
        # is pre-window by construction.
        same_dim_window = (
            any(rd_g.dimension.name.lower() == dim.name.lower()
                for rd_g, *_ in gen_axes)
            or any(getattr(c, "rank_dim", None) == dim.name
                   for c in calcs))
        if same_dim_window and not qm.nonempty:
            raise ParseError(
                f"a property FILTER on dimension {dim.name!r} cannot "
                "combine with GENERATE/RANK over the same dimension "
                "without NON EMPTY in this MDX subset (the dense "
                "member fill would re-rank the window); add NON EMPTY")
        pr = level.find_property(ref.prop)
        plist = needed_props.setdefault(dim.name, [])
        if pr.alias not in [x.alias for x in plist]:
            plist.append(pr)
        if same_dim_window:
            deferred_prop_preds.append((dim.name, pr.alias, fop, fval))
        else:
            prop_filter_preds.append((dim.name, pr.alias, fop, fval))

    # --- bridges required (dims + measures) ---
    bridge_names: set[str] = set()
    for dname, dim in dim_objs.items():
        if dim.bridge:
            bridge_names.add(dim.bridge)
    for rc in pc_cuts:
        # a cut-only parent-child dim never joins, but its fact_fk
        # expression may still read bridge columns
        if rc.dimension.bridge:
            bridge_names.add(rc.dimension.bridge)
    for m in base_measures:
        if m.bridge:
            bridge_names.add(m.bridge)
    for _, _, m in set_aggs:
        if m.bridge:
            bridge_names.add(m.bridge)

    # --- build base frame: fact ⋈ bridges ⋈ dims ---
    # NOT rebalanced (r14 optimization round, measured): repartitioning
    # the fact to beat the single-row-group test layout was tried and
    # lost on 9 of 10 OLAP headline queries (interleaved A/B total
    # 14.0 s rebalanced vs 11.2 s plain) — the extra full-fact exchange
    # costs more than the map-side parallelism buys everywhere except
    # the widest aggregate (q01).  See maybe_rebalance for the one
    # family where it decisively wins (jaccard prefix indexing).
    base = fact_df if fact_df is not None else load_table(spark, sf_dir, cube.fact)
    for bname in sorted(bridge_names):
        b = cube.bridge(bname)
        bt = load_table(spark, sf_dir, b.table).select(b.bridge_key, *b.provides)
        # fact-grain join: never broadcast; bucket both sides on the key at scale
        base = base.join(bt, F.col(b.fact_key) == F.col(b.bridge_key), "inner")

    for dname, lvls in needed.items():
        dim = dim_objs[dname]
        level_list = _hier_ordered(dim, lvls)
        if dim.parent_child is not None:
            # fan-out join: each fact row attaches to its WHOLE
            # ancestor chain (bounded by tree depth), so the groupBy
            # below aggregates subtrees — Mondrian parent-child cells
            if needed_props.get(dname):
                raise ParseError(
                    f"parent-child dimension {dname!r} does not expose "
                    "member properties")
            pcsel = _pc_select(spark, sf_dir, dim, level_list,
                               caption_overrides)
            if dim.broadcastable:
                pcsel = F.broadcast(pcsel)
            base = (base.join(pcsel,
                              F.expr(dim.fact_fk) == F.col("__pc_desc__"),
                              "inner")
                        .drop("__pc_desc__"))
        elif dim.is_degenerate:
            for lv in level_list:
                base = _with_level_cols(base, lv, caption_overrides.get((dname, lv.name)))
            for p in needed_props.get(dname, []):
                base = base.withColumn(p.alias, F.expr(p.column))
        else:
            dsel = _dim_select(spark, sf_dir, dim, level_list,
                               needed_props.get(dname, []), caption_overrides)
            if dim.broadcastable or _chain_broadcastable(spark, sf_dir, dim):
                dsel = F.broadcast(dsel)
            base = base.join(dsel, F.col(dim.fact_fk) == F.col(dim.dim_pk), "inner")
            if dim.dim_pk not in _all_aliases(level_list):
                base = base.drop(dim.dim_pk)

    # --- ragged hierarchies (r11; reference foodmart.xml:565-603
    # hideMemberIf on Sales Ragged): a hidden member leaves the AXIS —
    # Mondrian's member set excludes it, so its rows must not surface
    # at the drilled grain.  Only the DRILLED level's rule applies
    # (ancestor columns from parents=true describe visible members'
    # lineage, they are not themselves the axis).  Filtered BEFORE
    # aggregation, so Catalyst pushes the predicate into the scan. ---
    for rd in drills:
        if rd.level.hide_member_if:
            base = base.filter(_ragged_pred(rd.hierarchy, rd.level))

    # empty set algebra (EXCEPT/INTERSECT -> {}): zero fact rows;
    # Catalyst folds filter(false) to an empty relation, so no scan
    # runs.  An empty AXIS set also suppresses dense fill below; an
    # empty SLICER only empties the cells.
    if qm.empty_set or qm.empty_slicer:
        base = base.filter(F.lit(False))

    # --- cuts: predicates + named-set semi-joins (pre-aggregation) ---
    pred_cuts = [rc for rc in cuts if rc.cut.kind != "named_set"]
    ns_cuts = [rc for rc in cuts if rc.cut.kind == "named_set"]
    for rc in pred_cuts:
        base = base.filter(_cut_predicate(rc, base.schema))
    for _, alias, fop, fval in prop_filter_preds:
        base = base.filter(_cmp_pred(alias, fop, fval))
    implicit_ns = set(implicit_ns_cuts)
    for rc in ns_cuts:
        if rc.cut.named_set in implicit_ns:
            continue   # axis selections apply below the slicer snapshot
        ns = cube.named_set(rc.cut.named_set)
        keys = named_set_keys(spark, sf_dir, cube, ns)
        base = base.filter(F.col(rc.level.key_alias).isin(keys))
    for rc in pc_cuts:
        # subtree semi-join: facts whose member id descends from any
        # cut member (distinct, so overlapping subtrees can't double-
        # count).  The descendant set is subtree-sized — broadcast only
        # when the catalog declares the dim bounded, else AQE decides.
        pcl = pc_closure_frame(spark, sf_dir, rc.dimension)
        keys = [_coerce(m.value) for m in rc.cut.members
                if m.by_key]
        captions = [m.value for m in rc.cut.members if not m.by_key]
        if captions:
            # caption refs ([Geo Tree].[Node].[AMERICA]) resolve to
            # node ids through the member frame — the closure keys on
            # ids, so matching captions there would silently cut to
            # nothing.  Unknown captions are a clear 400.
            hits = (pc_member_frame(spark, sf_dir, rc.dimension)
                    .filter(F.col("node_name").isin(captions))
                    .select("node_id", "node_name").collect())
            missing = set(captions) - {r["node_name"] for r in hits}
            if missing:
                raise ParseError(
                    f"parent-child dimension {rc.dimension.name!r} has "
                    f"no member named {sorted(missing)}; cut by "
                    "[&key] or a known caption")
            keys += [r["node_id"] for r in hits]
        desc = (pcl.filter(F.col("ancestor_id").isin(keys))
                   .select(F.col("descendant_id").alias("__pc_cut_desc__"))
                   .distinct())
        if rc.dimension.broadcastable:
            desc = F.broadcast(desc)
        base = base.join(
            desc, F.expr(rc.dimension.fact_fk) == F.col("__pc_cut_desc__"),
            "left_semi")

    # slicer-context snapshot (r12, VERDICT r11 #3): everything above —
    # WHERE cuts, property filters, EXPLICIT named-set slicers, pc
    # subtree cuts — is Mondrian's evaluation context for axis set
    # functions; the other AXES' selections (implicit named-set cuts
    # from a TOPCOUNT-as-set drilldown) are NOT.  DDLTOP/GENERATE rank
    # bases that must ignore a co-axis selection aggregate from this
    # frame; cell values still come from the fully-cut base below.
    base_slicer_ctx = base
    for rc in ns_cuts:
        if rc.cut.named_set not in implicit_ns:
            continue
        ns = cube.named_set(rc.cut.named_set)
        keys = named_set_keys(spark, sf_dir, cube, ns)
        base = base.filter(F.col(rc.level.key_alias).isin(keys))

    # --- group + aggregate (partial+final hash agg; map-side combine) ---
    group_cols: list[str] = []
    for rd in drills:
        for lv in rd.group_levels:
            for _, alias in lv.out_cols():
                group_cols.append(alias)
    group_cols += prop_group_aliases(drills, prop_seq)
    # deferred same-dim-window property filters (r11): the property
    # column rides the groupBy (functionally dependent on the member
    # key — same grain) so the predicate can apply AFTER the rank /
    # generate windows, then drops unless displayed
    defer_cols = [alias for _, alias, _, _ in deferred_prop_preds
                  if alias not in group_cols]
    if deferred_prop_preds and (getattr(qm, "gs_axes", []) or []):
        raise ParseError(
            "a property FILTER on a GENERATE/RANK dimension cannot "
            "combine with DRILLDOWNLEVEL/DRILLDOWNMEMBER in this MDX "
            "subset")

    # a calc member whose alias matches an axis column would silently
    # overwrite it via withColumn below — a wrong answer, not a 400
    # (ADVICE r5: WITH MEMBER [Measures].[Cust Region] while drilling
    # Customer.Region).  Schema calcs hit this too if a query drills a
    # level whose alias collides.
    for c in calcs:
        if c.alias in group_cols:
            raise ParseError(
                f"measure {c.name!r} (alias {c.alias!r}) collides with a "
                "drilled axis column — rename the calculated member")

    fs_set_aggs = [t for t in set_aggs if _set_agg_fact_side(t[0], t[2])]
    ml_set_aggs = [t for t in set_aggs if not _set_agg_fact_side(t[0], t[2])]
    for c, _, _ in ml_set_aggs:
        if c.set_fn not in _SET_MEMBER_FNS:
            raise ParseError(
                f"set aggregate {c.name!r}: unsupported aggregator "
                f"{c.set_fn!r}")
    aggs = [_agg_expr(m) for m in base_measures]
    aggs += [_set_agg_col(c, rc, m) for c, rc, m in fs_set_aggs]
    # (alias, fine aggregator, UNCAST fine column, outer cast) specs
    # for the two-phase grouping-sets path (_gs_two_phase): the fine
    # column must stay uncast so decimal sums merge exactly; the cast
    # moves to the outer aggregate
    gs_specs = [(m.alias, m.agg,
                 _AGG_FNS[m.agg](F.expr(m.expr)).alias(m.alias),
                 m.result_cast)
                for m in base_measures]
    gs_specs += [(c.alias,
                  (m.agg if c.set_fn == "aggregate" else c.set_fn),
                  _AGG_FNS[m.agg if c.set_fn == "aggregate" else c.set_fn](
                      F.when(_cut_predicate(rc), F.expr(m.expr))
                  ).alias(c.alias),
                  (m.result_cast if m.result_cast
                   and (m.agg if c.set_fn == "aggregate" else c.set_fn)
                   in ("sum", "min", "max", "avg") else None))
                 for c, rc, m in fs_set_aggs]
    if not aggs:  # pure axis enumeration still needs an aggregate context
        dm = cube.default_measure
        aggs = [_agg_expr(dm)]
        gs_specs = [(dm.alias, dm.agg,
                     _AGG_FNS[dm.agg](F.expr(dm.expr)).alias(dm.alias),
                     dm.result_cast)]
    kept_markers: list[str] = []
    if ddl_axes:
        # mixed-depth axes: k grouping-sets dims -> 2^k sets in ONE
        # Expand pass (r10 generalizes the r9 single-axis pair) —
        # partial aggregation still applies, no second scan.  Parent
        # subtotal rows carry NULL child columns.
        prop_aliases = prop_group_aliases(drills, prop_seq)
        child_alias_sets = []
        for _, child_lv, _ in ddl_axes:
            # CHILD-level property columns leave the subtotal grouping
            # sets with their level (r13; previously they stayed in
            # every set, splitting each parent subtotal row per
            # property value — a silent wrong answer): subtotal rows
            # have no child member, so the property is NULL there,
            # exactly Mondrian's mixed-axis shape
            ca = {a for _, a in child_lv.out_cols()}
            ca |= {q.alias for q in child_lv.properties
                   if q.alias in prop_aliases}
            child_alias_sets.append(ca)
        from itertools import product as _iproduct
        sets = []
        for mask in _iproduct((0, 1), repeat=len(ddl_axes)):
            excl: set = set()
            for bit, ca in zip(mask, child_alias_sets):
                if not bit:
                    excl |= ca
            sets.append([c for c in group_cols if c not in excl])
        # F.grouping(), not key-isNull, marks the subtotal rows: a
        # genuine NULL child key in the data would otherwise be
        # conflated with a grouping-sets subtotal and bypass the
        # DRILLDOWNMEMBER subset filter (ADVICE r9).  grouping() is
        # only legal inside the agg, so one marker per grouping-sets
        # dim rides along as a column and is dropped after the filter.
        gs_markers = [f"__gs_subtotal_{i}__" for i in range(len(ddl_axes))]
        marker_cols = [F.grouping(cl.key_alias).alias(m)
                       for (_, cl, _), m in zip(ddl_axes, gs_markers)]
        out = _gs_two_phase(base, sets, group_cols, gs_specs,
                            marker_cols)
        if out is None:   # non-mergeable measure: one-phase Expand
            out = (base.groupingSets(sets, *group_cols)
                       .agg(*aggs, *marker_cols))
        for (_, _, subset_rc), m in zip(ddl_axes, gs_markers):
            if subset_rc is not None:
                # DRILLDOWNMEMBER: child rows only under the listed
                # parents; subtotal rows always stay
                out = out.filter(
                    (F.col(m) == 1) | _cut_predicate(subset_rc))
        densified_gs = False
        if (getattr(qm, "gs_top", []) or []) and not qm.nonempty \
                and not qm.empty_set:
            # dense DRILLDOWNLEVELTOP/BOTTOM (r13, VERDICT r12 #4):
            # densify FIRST, then the same per-parent window below
            # ranks the DENSE children — Mondrian's TopCount treats
            # missing cells as rankable; empty cells rank nulls-last
            # with the child-key tie-break, so the selection is
            # deterministic where Mondrian's tie among empty members
            # is not (the same semantics the dense GENERATE path has
            # always had).  Subtotal rows rank in their own marker
            # partition and always stay, so every parent keeps its
            # (possibly null-filled) subtotal row.
            out = _densify_gs(
                spark, sf_dir, cube, drills, ddl_axes, gs_markers,
                out, group_cols,
                [m.alias for m in base_measures]
                + [c.alias for c, _, _ in fs_set_aggs],
                pred_cuts, ns_cuts, needed_props, caption_overrides,
                axis_cuts=axis_cuts, prop_filters=prop_filter_preds,
                existing_dims=getattr(qm, "existing_dims", None),
                keep_markers=True)
            densified_gs = True
        for spec, topn, mname, asc in getattr(qm, "gs_top", []) or []:
            # DRILLDOWNLEVELTOP/BOTTOM: child rows rank per parent by
            # the measure, keep n; subtotal rows always stay.  One
            # axis-sized window over the Expand output — never the
            # fact.  Mondrian evaluates the set BEFORE any crossjoin;
            # composing with a plain .Members axis is exact when the
            # rank orders by the MARGINAL measure (the sum of the
            # child's cells over the other axis — r11, VERDICT r10
            # #5), which requires an additive measure.  Another
            # GROUPING-SETS axis would interleave its own subtotal
            # rows into the marginal — still a clear 400.
            if len(getattr(qm, "gs_axes", []) or []) > 1:
                raise ParseError(
                    "DRILLDOWNLEVELTOP/DRILLDOWNLEVELBOTTOM cannot "
                    "combine with another DRILLDOWNLEVEL/DRILLDOWN"
                    "MEMBER/VISUALTOTALS axis in this MDX subset "
                    "(the other axis' subtotal rows would pollute "
                    "the per-parent marginal)")
            idx = next(i for i, (s, _) in enumerate(qm.gs_axes)
                       if s == spec)
            parent_lv, child_lv, _ = ddl_axes[idx]
            marker = gs_markers[idx]
            alias = _measure_alias(cube, mname)
            gs_dim = next(rd.dimension.name for rd in drills
                          if rd.level.name == child_lv.name
                          and child_lv.key_alias in
                          [lv.key_alias for lv in rd.group_levels])
            others = [a for rd in drills
                      if rd.dimension.name != gs_dim
                      for lv in rd.group_levels
                      for a in [lv.key_alias]]
            parent_cols = [a for _, a in parent_lv.out_cols()]
            if others and implicit_ns:
                # the other axis is itself a ranked SELECTION (a
                # TOPCOUNT-as-set drilldown): its implicit cut
                # restricts the facts, so the displayed-cell marginal
                # would rank by the selected slice — Mondrian
                # evaluates DDLTOP pre-crossjoin in the SLICER
                # context (r12, VERDICT r11 #3).  Rank by a separate
                # (parent, child)-grain aggregate over the
                # slicer-context base: an exact pre-crossjoin cell,
                # valid for ANY aggregator (no additivity needed —
                # the measure's own agg runs at the rank grain).
                m_obj = next((m for m in cube.measures
                              if m.name == mname), None)
                if m_obj is None:
                    raise ParseError(
                        f"DRILLDOWNLEVELTOP/BOTTOM measure {mname!r} "
                        "must be a base measure when composed with a "
                        "TOPCOUNT axis (calculated members have no "
                        "pre-crossjoin rank basis)")
                rank_src = (base_slicer_ctx
                            .groupBy(parent_lv.key_alias,
                                     child_lv.key_alias)
                            .agg(_agg_expr(m_obj))
                            .select(F.col(parent_lv.key_alias)
                                    .alias("__rb_p__"),
                                    F.col(child_lv.key_alias)
                                    .alias("__rb_c__"),
                                    F.col(m_obj.alias)
                                    .alias("__gs_marg__")))
                out = (out.join(
                    rank_src,
                    (F.col(parent_lv.key_alias) == F.col("__rb_p__"))
                    & (F.col(child_lv.key_alias) == F.col("__rb_c__")),
                    "left").drop("__rb_p__", "__rb_c__"))
                ocol = "__gs_marg__"
                rank_fn = F.dense_rank()
            elif others:
                m_obj = next((m for m in cube.measures
                              if m.name == mname), None)
                if m_obj is None or m_obj.agg not in ("sum", "count"):
                    raise ParseError(
                        f"DRILLDOWNLEVELTOP/BOTTOM measure {mname!r} "
                        "is not additive (sum/count); its per-parent "
                        "marginal over the other axis is not the sum "
                        "of cells — drop the other axis or rank by "
                        "an additive measure")
                out = out.withColumn("__gs_marg__", F.sum(
                    F.col(alias)).over(Window.partitionBy(
                        marker, *parent_cols, child_lv.key_alias)))
                ocol = "__gs_marg__"
                rank_fn = F.dense_rank()
            else:
                ocol = alias
                rank_fn = F.row_number()
            # subtotal rows rank in their own (marker=1) partition so
            # they never consume a child's slot
            w = (Window.partitionBy(marker, *parent_cols)
                 .orderBy(F.asc_nulls_last(ocol) if asc
                          else F.desc_nulls_last(ocol),
                          F.asc(child_lv.key_alias)))
            out = (out.withColumn("__gs_rn__", rank_fn.over(w))
                      .filter((F.col(marker) == 1)
                              | (F.col("__gs_rn__") <= topn))
                      .drop("__gs_rn__", "__gs_marg__"))
        if getattr(qm, "gs_keep_markers", False):
            # virtual drill-across (r11): the markers ride the output
            # so the post-join DRILLDOWNLEVELTOP rank can identify
            # subtotal rows without guessing from NULL member keys
            kept_markers = list(gs_markers)
        elif densified_gs:
            # dense DDLTOP already densified above (pre-rank)
            out = out.drop(*gs_markers)
        elif not qm.nonempty and not qm.empty_set:
            # dense mixed-grain axes (r12, VERDICT r11 #1): union of
            # per-grouping-set dense fills over the marker slices of
            # the one Expand aggregate — Mondrian's dense default
            # applies to DRILLDOWNLEVEL/DRILLDOWNMEMBER too
            out = _densify_gs(
                spark, sf_dir, cube, drills, ddl_axes, gs_markers,
                out, group_cols,
                [m.alias for m in base_measures]
                + [c.alias for c, _, _ in fs_set_aggs],
                pred_cuts, ns_cuts, needed_props, caption_overrides,
                axis_cuts=axis_cuts, prop_filters=prop_filter_preds,
                existing_dims=getattr(qm, "existing_dims", None))
        else:
            out = out.drop(*gs_markers)
    elif group_cols:
        out = base.groupBy(*group_cols, *defer_cols).agg(*aggs)
    else:
        out = base.agg(*aggs)

    # --- dense axes (reference default; webshop_1.csv golden) ---
    # an EXCEPT/INTERSECT-empty axis SET has zero tuples by
    # definition — dense fill enumerates the axis sets' members, and
    # the empty set has none
    if not qm.nonempty and drills and not qm.empty_set and not ddl_axes:
        out = _densify(spark, sf_dir, cube, drills, pred_cuts, ns_cuts,
                       needed_props, caption_overrides, out, group_cols,
                       [m.alias for m in base_measures]
                       + [c.alias for c, _, _ in fs_set_aggs],
                       axis_cuts=axis_cuts, prop_filters=prop_filter_preds,
                       existing_dims=getattr(qm, "existing_dims", None))

    # --- member-value set aggregates (post-agg): one extra aggregate
    # --- at (axis grain × set member) computing each member's cell
    # --- value with the measure's OWN aggregator, then the outer fn
    # --- over the member values, left-joined back on the axis keys.
    # --- Axis-sized second shuffle keyed like the first; the set
    # --- predicate prunes the scan the same way a slicer would.  On
    # --- dense axes the left join leaves filled tuples null — exactly
    # --- an empty Mondrian cell ---
    # calcs sharing one (member set, measure) — e.g. MEDIAN and STDEV
    # of the same yearly revenues — share ONE member-value pass: the
    # outer fns are just extra aggregate columns on the same frame
    ml_groups: dict = {}
    for c, rc, m in ml_set_aggs:
        ml_groups.setdefault((c.set_cut, c.set_of), (rc, m, []))[2].append(c)
    for rc, m, cs in ml_groups.values():
        mv = (base.filter(_cut_predicate(rc, base.schema))
                  .groupBy(*(group_cols + [rc.level.key_alias]))
                  .agg(_agg_expr(m)))
        outers = [_SET_MEMBER_FNS[c.set_fn](F.col(m.alias)).alias(c.alias)
                  for c in cs]
        if group_cols:
            mla = mv.groupBy(*group_cols).agg(*outers).select(
                *[F.col(g).alias(f"__ml_{g}") for g in group_cols],
                *[c.alias for c in cs])
            cond = reduce(
                lambda a, b: a & b,
                [out[g].eqNullSafe(F.col(f"__ml_{g}")) for g in group_cols])
            out = out.join(mla, cond, "left").drop(
                *[f"__ml_{g}" for g in group_cols])
        else:
            out = out.crossJoin(mv.agg(*outers))

    # --- calculated members (post-agg, reference foodmart.xml:345-366) ---
    for c in calcs:
        if c.set_of:
            continue   # already aggregated in the groupBy above
        if c.expr:
            out = _with_user_col(out, c.alias, c.expr, c.name)
        elif c.run_of:
            # YTD/QTD running total: cumulative sum within the anchor
            # time level (YTD = the hierarchy's top level, QTD = the
            # named anchor, e.g. Quarter), ordered along the finer
            # drilled time levels; with no finer drill it equals the
            # measure.  Every level at or above the anchor must be
            # drilled — degenerate time keys repeat per parent (quarter
            # 1-4 every year), so a partial partition would silently
            # merge across parents.  Axis-sized window — never the fact.
            run_drills = [rd for rd in drills
                          if rd.dimension.name == c.run_dim]
            if not run_drills:
                raise ParseError(
                    f"calculated member {c.name!r} needs a "
                    f"{c.run_dim} drilldown")
            hier = run_drills[0].hierarchy
            if c.run_anchor is None:
                anchor_idx = 0
            else:
                try:
                    anchor_idx = hier.level_index(c.run_anchor)
                except (KeyError, ValueError):
                    raise ParseError(
                        f"calculated member {c.name!r}: hierarchy "
                        f"{hier.name!r} has no {c.run_anchor!r} level")
            seen_keys: dict = {}
            for rd in run_drills:
                for lv in rd.group_levels:
                    seen_keys.setdefault(
                        lv.key_alias, rd.hierarchy.level_index(lv.name))
            keyed = sorted((i, a) for a, i in seen_keys.items())
            have = {i for i, _ in keyed}
            missing = [hier.levels[i].name for i in range(anchor_idx + 1)
                       if i not in have]
            if missing:
                raise ParseError(
                    f"calculated member {c.name!r} needs the "
                    f"{'/'.join(missing)} level(s) of {c.run_dim} in the "
                    "drilldown (the to-date window anchors there)")
            part = [a for i, a in keyed if i <= anchor_idx]
            finer = [a for i, a in keyed if i > anchor_idx]
            others = [a for rd in drills if rd.dimension.name != c.run_dim
                      for a in rd.key_aliases]
            if not finer:
                out = out.withColumn(c.alias, F.col(c.run_of))
            else:
                w = (Window
                     .partitionBy(*[F.col(a) for a in others + part])
                     .orderBy(*[F.col(a) for a in finer])
                     .rowsBetween(Window.unboundedPreceding,
                                  Window.currentRow))
                out = out.withColumn(c.alias,
                                     F.sum(F.col(c.run_of)).over(w))
        elif c.rank_dim:
            # RANK window (axis-sized, never the fact).  In a
            # snowflake hierarchy a member determines its ancestors
            # (one nation -> one region), so each axis row's measure
            # IS the ranked member's full value and ranking the whole
            # frame partitioned by OTHER dimensions' keys equals
            # Mondrian's context-free set evaluation.  Degenerate dims
            # break that premise (child keys repeat per parent), so
            # RANK with ancestor levels drilled is rejected there.
            rank_drills = [rd for rd in drills
                           if rd.dimension.name == c.rank_dim]
            if not any(lv.name == c.rank_level for rd in rank_drills
                       for lv in rd.group_levels):
                raise ParseError(
                    f"calculated member {c.name!r} ranks the "
                    f"{c.rank_dim} {c.rank_level!r} level; drill that "
                    "level first")
            rdim = rank_drills[0].dimension
            same_keys = [a for rd in rank_drills for a in rd.key_aliases]
            level_keys = {lv.key_alias for rd in rank_drills
                          for lv in rd.group_levels
                          if lv.name == c.rank_level}
            if rdim.is_degenerate and len(set(same_keys)) > len(level_keys):
                raise ParseError(
                    f"calculated member {c.name!r}: RANK on degenerate "
                    f"dimension {rdim.name!r} with ancestor levels "
                    "drilled is ambiguous (level keys repeat per "
                    "parent); drill only the ranked level")
            others = [a for rd in drills if rd.dimension.name != c.rank_dim
                      for a in rd.key_aliases]
            if c.rank_of:
                # nulls last both ways, matching DuckDB's default null
                # ordering (dense axes can surface null measures)
                direction = (F.asc_nulls_last(c.rank_of) if c.rank_asc
                             else F.desc_nulls_last(c.rank_of))
                w = Window.partitionBy(
                    *[F.col(a) for a in others]).orderBy(direction)
                out = out.withColumn(c.alias, F.rank().over(w).cast("long"))
            else:
                # ordinal position: hierarchical member order (the
                # same-dim drilled keys, coarsest first)
                w = Window.partitionBy(*[F.col(a) for a in others]).orderBy(
                    *[F.asc(a) for a in same_keys])
                out = out.withColumn(c.alias,
                                     F.row_number().over(w).cast("long"))
        else:
            lag_drills = [rd for rd in drills
                          if rd.dimension.name == c.lag_dim]
            time_keys = [a for rd in lag_drills for a in rd.key_aliases]
            if not time_keys:
                raise ParseError(
                    f"calculated member {c.name!r} needs a {c.lag_dim} drilldown")
            if c.lag_level is not None and not any(
                    rd.level.name.lower() == c.lag_level.lower()
                    for rd in lag_drills):
                raise ParseError(
                    f"calculated member {c.name!r} shifts at level "
                    f"{c.lag_level!r}; drill {c.lag_dim} at that level "
                    "(a different grain would change the shift meaning)")
            others = [a for rd in drills if rd.dimension.name != c.lag_dim
                      for a in rd.key_aliases]
            w = Window.partitionBy(*[F.col(a) for a in others]).orderBy(
                *[F.col(a) for a in time_keys])
            out = out.withColumn(c.alias,
                                 F.lag(F.col(c.lag_of), c.lag_n).over(w))

    # --- GENERATE per-parent top-N (raw MDX): row_number window
    # --- partitioned by the parent level (plus any other dimensions'
    # --- keys), ordered by the ranking measure — applied BEFORE the
    # --- HAVING stage so FILTER(GENERATE(...), cond) filters the
    # --- generated set, matching the MDX nesting ---
    if gen_axes:
        # Every GENERATE's rank is computed BEFORE any is filtered
        # (Mondrian evaluates each set independently, pre-crossjoin),
        # then all filters apply.  With other axis dimensions present
        # the rank orders by the MARGINAL measure — the sum of this
        # (parent, child)'s cells across the other dimensions' keys —
        # which equals Mondrian's pre-crossjoin evaluation for
        # additive measures (sum/count); non-additive rank measures
        # are a clear 400 in that composition.  Sole-axis GENERATE
        # keeps the r9 single row_number window (cell == marginal).
        all_gen_keys = {a for rd_g, *_ in gen_axes
                        for lv in rd_g.group_levels
                        for a in [lv.key_alias]}
        other_keys = [a for rd in drills for lv in rd.group_levels
                      for a in [lv.key_alias] if a not in all_gen_keys]
        filters = []
        for gi, (rd_g, g_level, g_child, g_n, g_m, g_asc) in \
                enumerate(gen_axes):
            child_keys = {a for _, a in g_child.out_cols()}
            own_keys = [a for lv in rd_g.group_levels
                        for a in [lv.key_alias]]
            part = [a for a in own_keys if a not in child_keys]
            marginal = bool(other_keys) or len(gen_axes) > 1
            if g_m is not None:
                ocol = _measure_alias(cube, g_m)
                if marginal and implicit_ns:
                    # a co-axis TOPCOUNT selection restricts the
                    # facts — rank by a (parent, child)-grain
                    # aggregate over the slicer-context base instead
                    # of the displayed-cell marginal (r12, VERDICT
                    # r11 #3; same argument as DDLTOP above)
                    m_obj = next((m for m in cube.measures
                                  if m.name == g_m), None)
                    if m_obj is None:
                        raise ParseError(
                            f"GENERATE ranking measure {g_m!r} must "
                            "be a base measure when composed with a "
                            "TOPCOUNT axis (calculated members have "
                            "no pre-crossjoin rank basis)")
                    mcol = f"__gen_m{gi}"
                    rank_src = (base_slicer_ctx
                                .groupBy(*own_keys)
                                .agg(_agg_expr(m_obj))
                                .select(*[F.col(a).alias(f"__rb{i}__")
                                          for i, a in
                                          enumerate(own_keys)],
                                        F.col(m_obj.alias)
                                        .alias(mcol)))
                    cond = reduce(
                        lambda a, b: a & b,
                        [F.col(k) == F.col(f"__rb{i}__")
                         for i, k in enumerate(own_keys)])
                    out = (out.join(rank_src, cond, "left")
                              .drop(*[f"__rb{i}__"
                                      for i in range(len(own_keys))]))
                    ocol = mcol
                elif marginal:
                    m_obj = next((m for m in cube.measures
                                  if m.name == g_m), None)
                    if m_obj is None or m_obj.agg not in ("sum", "count"):
                        raise ParseError(
                            f"GENERATE ranking measure {g_m!r} is not "
                            "additive (sum/count); its per-parent "
                            "marginal over the other axis dimensions "
                            "is not the sum of cells — query GENERATE "
                            "as the sole axis set or rank by an "
                            "additive measure")
                    mcol = f"__gen_m{gi}"
                    out = out.withColumn(mcol, F.sum(F.col(ocol)).over(
                        Window.partitionBy(*[F.col(a)
                                             for a in own_keys])))
                    ocol = mcol
                direction = (F.asc_nulls_last(ocol) if g_asc
                             else F.desc_nulls_last(ocol))
            else:
                # HEAD/TAIL: hierarchy (key) order, no measure
                direction = (F.asc_nulls_last(g_child.key_alias)
                             if g_asc
                             else F.desc_nulls_last(g_child.key_alias))
            w = (Window.partitionBy(*[F.col(a) for a in part])
                 .orderBy(direction, F.asc(g_child.key_alias)))
            rank_fn = F.dense_rank() if marginal else F.row_number()
            out = out.withColumn(f"__gen_rn{gi}", rank_fn.over(w))
            filters.append((f"__gen_rn{gi}", g_n))
        for col, g_n in filters:
            out = out.filter(F.col(col) <= g_n)
        out = out.drop(*[c for c, _ in filters],
                       *[f"__gen_m{gi}" for gi in range(len(gen_axes))])

    # --- deferred same-dim-window property filters (r11, VERDICT r10
    # --- #8): FILTER(<windowed set>, prop cond) — Mondrian ranks the
    # --- UNFILTERED set, then the filter drops rows, so the predicate
    # --- applies AFTER the rank/generate windows above ---
    for _, alias, fop, fval in deferred_prop_preds:
        out = out.filter(_cmp_pred(alias, fop, fval))
    if defer_cols:
        out = out.drop(*defer_cols)

    # --- NONEMPTY(set, m) 2-arg form: drop tuples where the NAMED
    # --- measure is empty (post-agg/post-dense isNotNull; the named
    # --- measure may be hidden via the extras path) ---
    for pname in qm.nonempty_measures:
        out = out.filter(F.col(_measure_alias(cube, pname)).isNotNull())

    # --- HAVING (reference query_helper.rb:278-282 FILTER) ---
    for fs in qm.filter:
        mf = parse_measure_filter(fs)
        alias = _measure_alias(cube, mf.measure)
        out = out.filter(F.expr(f"{alias} {mf.op} {mf.value!r}"))
    out = _apply_filter_exprs(cube, out, qm)

    # --- sparse: drop all-null-measure rows (reference api.rb:138) ---
    if qm.sparse:
        out = out.na.drop(how="all", subset=final_aliases)

    if qm.distinct and group_cols:
        out = out.dropDuplicates(group_cols)

    # --- ORDER / SUBSET (reference query_helper.rb:283-296) ---
    key_aliases = [a for rd in drills for lv in rd.group_levels
                   for a in [lv.key_alias]]
    out = _shape_axis(cube, out, qm, group_cols, key_aliases)

    return out.select(*group_cols, *kept_markers, *final_aliases)


def _shape_axis(cube: Cube, out: DataFrame, qm: QueryModel,
                group_cols: list[str],
                key_aliases: list[str]) -> DataFrame:
    """The axis-global shaping tail — TOPPERCENT/TOPSUM windows, ORDER
    (+ key tie-breaks), default hierarchical order, OFFSET/LIMIT,
    TAIL, HIERARCHIZE-over-ranked — factored out (r13) so the base
    path and RollupManager._reaggregate shape bit-identically: a
    routed TOPPERCENT/TAIL query is indistinguishable from an
    unrouted one by construction, not by duplication."""
    tp_sort = None
    if qm.top_percent is not None or qm.top_sum is not None:
        # TOPPERCENT/BOTTOMPERCENT and TOPSUM/BOTTOMSUM (Mondrian set
        # functions): the minimal best-first prefix whose cumulative
        # measure reaches pct% of the set total (PERCENT) or an
        # absolute value (SUM).  Windows over the AXIS-SIZED
        # post-aggregation frame (single partition by design — the
        # frame is a grouped result, never the fact): keep rows whose
        # cumulative BEFORE them is still under the threshold, which
        # includes exactly the crossing row.  The MDX nesting guards
        # make the two mutually exclusive per query.
        if qm.top_percent is not None:
            pct, pname, asc = qm.top_percent
        else:
            val, pname, asc = qm.top_sum
        ocol = _measure_alias(cube, pname)
        direction = F.asc(ocol) if asc else F.desc(ocol)
        wseq = (Window.orderBy(direction,
                               *[F.asc(a) for a in key_aliases])
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        running = F.sum(F.col(ocol)).over(wseq)
        out = out.withColumn("__tp_run", running)
        if qm.top_percent is not None:
            total = F.sum(F.col(ocol)).over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing))
            out = out.withColumn("__tp_tot", total)
            threshold = F.lit(pct / 100.0) * F.col("__tp_tot")
        else:
            threshold = F.lit(val)
        out = (out.filter(F.col("__tp_run") - F.col(ocol) < threshold)
                  .drop("__tp_run", "__tp_tot"))
        # Mondrian's TopPercent/TopSum return the set SORTED by the
        # ranking measure (desc; asc for the BOTTOM forms) — same
        # convention as the TOPCOUNT path.  An explicit ORDER wrapper
        # still wins.
        if not qm.order:
            tp_sort = (ocol, direction)
    if qm.order:
        ocol = _order_column(cube, qm.order, group_cols)
        if ocol not in out.columns:
            raise ParseError(
                f"order key {qm.order!r} resolves to column {ocol!r}, "
                "which is not in the result — drill its level (and "
                "request the property via properties[]) first")
        primary = F.desc(ocol) if qm.order_desc else F.asc(ocol)
        out = out.orderBy(primary, *[F.asc(a) for a in key_aliases if a != ocol])
    elif tp_sort is not None:
        ocol, direction = tp_sort
        out = out.orderBy(direction,
                          *[F.asc(a) for a in key_aliases if a != ocol])
    elif key_aliases:
        # default = hierarchical member order, root level outermost
        # (reference golden CSV ordering, SURVEY §7.5.2: Mondrian
        # orders axis tuples by member ordinal along the ancestor
        # chain; our level keys are the ordinals — a level with a
        # separate ordinalColumn would carry it through the groupBy).
        # The sort runs on the post-aggregation frame (axis-sized),
        # not the fact, so it is O(result), and it doubles as the
        # total order pagination needs.
        out = out.orderBy(*[F.asc(a) for a in key_aliases])
    if qm.offset is not None and qm.offset < 0:
        raise ParseError(f"offset must be >= 0, got {qm.offset}")
    if qm.limit is not None and qm.limit < 0:
        # reference Grape-coerced Integer params reject negatives with
        # a 400; without this a negative limit reaches DataFrame.limit
        # and surfaces as an AnalysisException 500 (r12 REST fuzz)
        raise ParseError(f"limit must be >= 0, got {qm.limit}")
    if qm.offset:
        out = out.offset(qm.offset)
    if qm.limit is not None:
        out = out.limit(qm.limit)
    if qm.tail is not None:
        # TAIL(set, n): the LAST n tuples of the axis total order —
        # invert the sort, limit, re-sort forward.  Runs on the
        # axis-sized post-aggregation frame like ORDER/SUBSET, and
        # composes after offset/limit (the TAIL(SUBSET(...)) nesting).
        if qm.order:
            rev = [F.asc(ocol) if qm.order_desc else F.desc(ocol)]
            rev += [F.desc(a) for a in key_aliases if a != ocol]
            fwd = [primary, *[F.asc(a) for a in key_aliases if a != ocol]]
        elif tp_sort is not None:
            # axis total order is the TOPPERCENT/TOPSUM measure ranking
            ocol, direction = tp_sort
            asc_tp = (qm.top_percent or qm.top_sum)[2]
            rev = [F.desc(ocol) if asc_tp else F.asc(ocol)]
            rev += [F.desc(a) for a in key_aliases if a != ocol]
            fwd = [direction, *[F.asc(a) for a in key_aliases if a != ocol]]
        else:
            rev = [F.desc(a) for a in key_aliases]
            fwd = [F.asc(a) for a in key_aliases]
        if rev:
            out = out.orderBy(*rev).limit(qm.tail).orderBy(*fwd)
        else:
            out = out.limit(qm.tail)   # no axis: at most one total row

    if getattr(qm, "hierarchize", False) and key_aliases:
        # HIERARCHIZE over a ranked set (e.g. HIERARCHIZE(TOPCOUNT(
        # ...))): the rank picked the tuples above; display order
        # reverts to hierarchical — one axis-sized re-sort
        out = out.orderBy(*[F.asc(a) for a in key_aliases])

    return out


def _with_level_cols(df: DataFrame, lv: Level, caption_override: str | None = None) -> DataFrame:
    df = df.withColumn(lv.key_alias, F.expr(lv.key))
    if lv.caption and lv.caption_alias and lv.caption_alias != lv.key_alias:
        df = df.withColumn(lv.caption_alias, F.expr(caption_override or lv.caption))
    return df


def _hier_ordered(dim: Dimension, lvls: dict[str, Level]) -> list[Level]:
    ordered: list[Level] = []
    for h in dim.hierarchies:
        for lv in h.levels:
            if lv.name in lvls and lvls[lv.name] is lv and lv not in ordered:
                ordered.append(lv)
    # levels resolved from non-default hierarchies may share names; keep extras
    for lv in lvls.values():
        if lv not in ordered:
            ordered.append(lv)
    return ordered


def _all_aliases(levels: list[Level]) -> set[str]:
    out = set()
    for lv in levels:
        for _, a in lv.out_cols():
            out.add(a)
    return out


def _find_prop(cube: Cube, ref: PropertyRef):
    _, _, level = _resolve_level(cube, ref.dimension, ref.hierarchy, ref.level)
    return level.find_property(ref.prop)


def resolved_props(cube: Cube, properties: list[str]) -> list[tuple[str, object]]:
    """Property refs -> (dimension name, Property) pairs in REQUEST
    order (reference api_formatters.rb pnames emits one column per
    request in request order).  Shared with result shaping so column
    order/offsets always agree with the plan."""
    out: list[tuple[str, object]] = []
    for p in properties:
        ref = parse_property(p)
        dim, _, level = _resolve_level(cube, ref.dimension, ref.hierarchy, ref.level)
        out.append((dim.name, level.find_property(ref.prop)))
    return out


def props_by_dim(prop_seq: list[tuple[str, object]]) -> dict[str, list]:
    """Request-ordered pairs -> per-dimension Property lists (dedup by
    alias) for join plumbing (_dim_select / _densify)."""
    by_dim: dict[str, list] = {}
    for dname, p in prop_seq:
        plist = by_dim.setdefault(dname, [])
        if p.alias not in [q.alias for q in plist]:
            plist.append(p)
    return by_dim


def prop_group_aliases(drills: list[ResolvedDrill],
                       prop_seq: list[tuple[str, object]]) -> list[str]:
    """The property columns that actually reach the output, in request
    order, mirroring the dedup in _aggregate_cube (a property whose
    alias already appears as a drill/caption column, or was requested
    twice, contributes no extra column)."""
    group = [a for rd in drills for lv in rd.group_levels for _, a in lv.out_cols()]
    out: list[str] = []
    for _, p in prop_seq:
        if p.alias not in group and p.alias not in out:
            out.append(p.alias)
    return out


def _measure_alias(cube: Cube, name: str) -> str:
    c = cube.calc_member(name)
    if c is not None:
        return c.alias
    return cube.measure(name).alias


#: member order methods (reference query_helper.rb:8 VALID_ORDER_METHODS
#: minus UniqueName — full-name string order has no stable column here,
#: so it 400s instead of silently approximating)
_ORDER_METHODS = {"caption", "key", "name"}


def _order_column(cube: Cube, order: str, group_cols: list[str]) -> str:
    try:
        return _measure_alias(cube, order)
    except KeyError:
        pass
    if order in group_cols:
        return order
    if order.count(".") >= 2:
        head, last = order.rsplit(".", 1)
        # method has priority over a same-named property, mirroring the
        # reference's order parsing (query_helper.rb:166-188)
        if last.lower() in _ORDER_METHODS:
            segs = head.split(".")
            _, _, level = _resolve_level(
                cube, segs[0], segs[1] if len(segs) == 3 else None, segs[-1])
            if last.lower() == "key":
                return level.key_alias
            return level.caption_alias or level.key_alias
        if last.lower() == "uniquename":
            raise ParseError(
                "ordering by UniqueName is not supported; use Key, "
                "Caption, Name or a member property")
        ref = parse_property(order)
        return _find_prop(cube, ref).alias
    raise ParseError(f"cannot resolve order key {order!r}")


def _ragged_pred(hier, lv) -> F.Column:
    """Visibility predicate of a ragged level (hideMemberIf, reference
    foodmart.xml:565-603): ``if_blank_name`` hides blank/null captions;
    ``if_parents_name`` hides members whose caption repeats the
    parent's.  Operates on ALIASED columns, so the caller must have the
    parent level's columns in the frame for the parents-name rule
    (members.py applies the same rules on the metadata routes)."""
    cap = F.col(lv.caption_alias or lv.key_alias)
    if lv.hide_member_if == "if_blank_name":
        return cap.isNotNull() & (F.trim(cap) != "")
    if lv.hide_member_if == "if_parents_name":
        idx = hier.level_index(lv.name)
        if idx == 0:
            return F.lit(True)
        parent = hier.levels[idx - 1]
        pcap = F.col(parent.caption_alias or parent.key_alias)
        return cap.isNull() | pcap.isNull() | (cap != pcap)
    return F.lit(True)


#: a level set's member rows are held on the driver (plan-time cache
#: kind ``level_members``) when there are at most this many; a wider
#: level keeps its distributed member frame — an unbounded collect
#: would be the real scale bug
_LEVEL_MEMBER_CAP = 100_000


class LevelMembers:
    """The held member rows of one level set: ``frame`` is a local
    relation over them (filters and projections of it plan no Spark
    job) and ``rows`` their count — both None when the set is wider
    than _LEVEL_MEMBER_CAP.  ``values(col)`` is one column's value set,
    built once per entry, for cut validation (two racing first calls
    both build it and store equal sets)."""

    def __init__(self, frame, rows, pins):
        self.frame, self.rows, self._pins = frame, rows, pins
        self._values: dict = {}

    def values(self, col: str) -> set:
        v = self._values.get(col)
        if v is None:
            v = {r[0] for r in self.frame.select(col).collect()}
            self._values[col] = v
        return v


def _hold(spark: SparkSession, key, files, build, pins) -> LevelMembers:
    """The ``level_members`` cache entry for ``key``: ``build()``'s rows
    read with one bounded collect and re-exposed as a LocalRelation
    (built on the JVM side: ``spark.createDataFrame`` of Python rows
    would run tasks to apply the schema).  ``pins`` keeps the objects
    whose ids the key holds alive with the entry."""
    def collect():
        df = build()
        jrows = df.limit(_LEVEL_MEMBER_CAP + 1)._jdf.collectAsList()
        if jrows.size() > _LEVEL_MEMBER_CAP:
            return LevelMembers(None, None, pins)
        local = spark._jsparkSession.createDataFrame(jrows,
                                                     df._jdf.schema())
        return LevelMembers(DataFrame(local, spark), jrows.size(), pins)
    return plancache.get("level_members", key, files, collect)


def held_members(spark: SparkSession, sf_dir: str, cube: Cube,
                 rd: ResolvedDrill, props: list | None = None,
                 caption_overrides: dict | None = None,
                 visible: bool = True) -> LevelMembers:
    """The held member rows of a drill's group levels, read once per
    data version: stamped with the tables the members come from (the
    dimension's, or the fact and its bridge for a degenerate level),
    dropped by plancache.invalidate().  ``visible=False`` keeps the
    members a ragged level hides (cut validation resolves them).
    Property columns are held in alias order, whatever order they were
    asked for in."""
    dim = rd.dimension
    visible = visible and bool(rd.level.hide_member_if)
    props = sorted(props or [], key=lambda p: p.alias)
    if dim.is_degenerate:
        tables = [cube.fact] + ([cube.bridge(dim.bridge).table]
                                if dim.bridge else [])
        owner = (id(cube), id(dim))
    else:
        # a table-backed dimension's members depend only on its name,
        # table chain and levels, so a conformed dimension declared
        # once per cube shares one entry
        tables = _dim_tables(dim)
        owner = (dim.name, dim.tables, dim.dim_pk, dim.parent_child,
                 tuple((h.name, tuple((lv.name, lv.key, lv.key_alias,
                                       lv.caption, lv.caption_alias,
                                       lv.properties, lv.hide_member_if)
                                      for lv in h.levels))
                       for h in dim.hierarchies))
    key = (os.path.realpath(sf_dir), owner,
           rd.hierarchy.name, rd.level.name,
           tuple(lv.name for lv in rd.group_levels),
           tuple(p.alias for p in props),
           tuple(sorted((d, l, c) for (d, l), c
                        in (caption_overrides or {}).items())),
           visible)
    return _hold(spark, key, _files(sf_dir, tables),
                 lambda: _members_plan(spark, sf_dir, cube, rd, props,
                                       caption_overrides, None, visible),
                 (cube, dim))


def _local_rows(df: DataFrame) -> int | None:
    """Row count of a frame that optimizes to a local relation (a
    filtered or projected held member set), read from the optimized
    plan with no Spark job; None for any other frame."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return plan.data().size()


def held_rows(df: DataFrame) -> list | None:
    """The collected rows of a frame that optimizes to a local
    relation (collecting one runs no Spark job); None otherwise."""
    return None if _local_rows(df) is None else df.collect()


def members_frame(spark: SparkSession, sf_dir: str, cube: Cube, rd: ResolvedDrill,
                  props: list | None = None,
                  caption_overrides: dict | None = None,
                  restrict: list | None = None,
                  visible: bool = True) -> DataFrame:
    """Distinct member tuples of a drill's group levels — the axis member
    set used for dense axes and the members metadata endpoints
    (reference mondrian_ext.rb:125-146; SELECT DISTINCT over dim table).
    Served from the held member rows (:func:`held_members`) when the
    set is no wider than _LEVEL_MEMBER_CAP, so repeated requests run no
    member job; restricted sets keep the distributed frame.

    ``restrict``: ResolvedCuts that DEFINE the member set (a
    .Children/.Siblings/OPENINGPERIOD implicit member slice): their
    levels join the build so the predicates apply even when coarser
    than the drilled levels, then the frame projects back to the
    drilled columns.  Distinct from WHERE cuts, which constrain FACTS
    and leave a dense axis full (null cells)."""
    if not restrict:
        held = held_members(spark, sf_dir, cube, rd, props,
                            caption_overrides, visible)
        if held.frame is not None:
            asked = [p.alias for p in props or []
                     if p.alias in held.frame.columns]
            if asked == sorted(asked):
                return held.frame
            return held.frame.select(
                *[c for c in held.frame.columns if c not in asked], *asked)
    return _members_plan(spark, sf_dir, cube, rd, props, caption_overrides,
                         restrict, visible)


def _members_plan(spark: SparkSession, sf_dir: str, cube: Cube,
                  rd: ResolvedDrill, props: list | None = None,
                  caption_overrides: dict | None = None,
                  restrict: list | None = None,
                  visible: bool = True) -> DataFrame:
    """The distributed member frame behind members_frame."""
    dim = rd.dimension
    extra = [rc for rc in restrict or []
             if rc.level.name not in {lv.name for lv in rd.group_levels}]
    lvl_map = {lv.name: lv for lv in rd.group_levels}
    for rc in extra:
        lvl_map[rc.level.name] = rc.level
    # ragged visibility (r11): only the DRILLED level's rule applies;
    # the parents-name rule needs the parent level's columns in the
    # build (projected back out below)
    ragged = [rd.level] if rd.level.hide_member_if and visible else []
    ragged_extra = False
    for lv in ragged:
        if lv.hide_member_if == "if_parents_name":
            i = rd.hierarchy.level_index(lv.name)
            if i > 0 and rd.hierarchy.levels[i - 1].name not in lvl_map:
                lvl_map[rd.hierarchy.levels[i - 1].name] = \
                    rd.hierarchy.levels[i - 1]
                ragged_extra = True
    build_levels = _hier_ordered(dim, lvl_map)
    out_cols = [a for lv in rd.group_levels for _, a in lv.out_cols()]
    out_cols += [p.alias for p in props or []]
    if dim.parent_child is not None:
        # the member table IS the axis member set (ids are unique by
        # construction — no distinct pass); restrict cuts apply as key
        # predicates like any table dim
        lv = rd.level
        mf = pc_member_frame(spark, sf_dir, dim)
        cols = [F.expr(lv.key).alias(lv.key_alias)]
        if lv.caption and lv.caption_alias and lv.caption_alias != lv.key_alias:
            cap = (caption_overrides or {}).get((dim.name, lv.name),
                                                lv.caption)
            cols.append(F.expr(cap).alias(lv.caption_alias))
        mf = mf.select(*cols)
        for rc in restrict or []:
            mf = mf.filter(_cut_predicate(rc, mf.schema))
        return mf
    if dim.is_degenerate:
        base = load_table(spark, sf_dir, cube.fact)
        for b in ([cube.bridge(dim.bridge)] if dim.bridge else []):
            bt = load_table(spark, sf_dir, b.table).select(b.bridge_key, *b.provides)
            base = base.join(bt, F.col(b.fact_key) == F.col(b.bridge_key), "inner")
        for lv in build_levels:
            base = _with_level_cols(base, lv,
                                    (caption_overrides or {}).get((dim.name, lv.name)))
        for rc in restrict or []:
            base = base.filter(_cut_predicate(rc, base.schema))
        for lv in ragged:
            base = base.filter(_ragged_pred(rd.hierarchy, lv))
        return base.select(*out_cols).distinct()
    dsel = _dim_select(spark, sf_dir, dim, build_levels, props or [],
                       caption_overrides or {})
    for rc in restrict or []:
        dsel = dsel.filter(_cut_predicate(rc, dsel.schema))
    for lv in ragged:
        dsel = dsel.filter(_ragged_pred(rd.hierarchy, lv))
    if restrict or ragged_extra:
        return dsel.select(*out_cols).distinct()
    return dsel.drop(dim.dim_pk).distinct() if dim.dim_pk not in _all_aliases(
        rd.group_levels) else dsel.distinct()


def _cmp_pred(alias: str, op: str, value):
    """Comparison predicate for member-property FILTER conditions."""
    col = F.col(alias)
    return {"=": col == F.lit(value), "<>": col != F.lit(value),
            ">": col > F.lit(value), ">=": col >= F.lit(value),
            "<": col < F.lit(value), "<=": col <= F.lit(value)}[op]


def _dense_axis_frame(spark, sf_dir, cube, rd, ai, pred_cuts, ns_cuts,
                      needed_props, caption_overrides, axis_cuts,
                      prop_filters, existing_set,
                      vc_cubes=None) -> DataFrame:
    """One axis's restricted member frame for the dense fill — shared
    by the flat dense path (_densify) and the grouping-sets dense path
    (_densify_gs).  ``vc_cubes``: (VirtualCube, [base cubes]) on the
    drill-across dense path — degenerate dims then union every owner's
    member set (r14, Mondrian virtual hierarchy)."""
    own = [rc for i, rc in (axis_cuts or []) if i == ai]
    if rd.dimension.name.lower() in existing_set:
        # EXISTING <set> (r10, VERDICT r9 #3): the dense member
        # frame is restricted by the same-dimension WHERE cuts —
        # including COARSER-level ones, which the restrict join
        # applies and projects back — so out-of-context members
        # are dropped (Mondrian EXISTING) instead of surfacing as
        # null-filled rows
        own = own + [rc for rc in pred_cuts
                     if rc.dimension.name == rd.dimension.name]
        for rc in ns_cuts:
            # a named-set slicer is context too: materialize its
            # keys into a positive set cut so the restrict join
            # can apply it even at a coarser level than the axis
            if rc.dimension.name != rd.dimension.name:
                continue
            ns = cube.named_set(rc.cut.named_set)
            keys = named_set_keys(spark, sf_dir, cube, ns)
            own = own + [ResolvedCut(
                rc.dimension, rc.hierarchy, rc.level,
                Cut(kind="set", members=tuple(
                    MemberRef(path=(rc.dimension.name,
                                    rc.level.name),
                              value=str(k), by_key=True)
                    for k in keys)))]
    if vc_cubes is not None:
        mf = _vc_members_frame(spark, sf_dir, vc_cubes[0], vc_cubes[1],
                               cube, rd,
                               needed_props.get(rd.dimension.name, []),
                               caption_overrides, restrict=own or None)
    else:
        mf = members_frame(spark, sf_dir, cube, rd,
                           needed_props.get(rd.dimension.name, []),
                           caption_overrides, restrict=own or None)
    for rc in pred_cuts:
        if rc.dimension.name == rd.dimension.name and \
                rc.level.key_alias in mf.columns:
            mf = mf.filter(_cut_predicate(rc, mf.schema))
    for dname, alias, fop, fval in (prop_filters or []):
        # member-property FILTER restricts the axis SET, so the
        # dense member frame drops the excluded members (unlike
        # WHERE cuts, which leave dense axes full)
        if dname == rd.dimension.name and alias in mf.columns:
            mf = mf.filter(_cmp_pred(alias, fop, fval))
    for rc in ns_cuts:
        # same column-presence guard as pred cuts above: a set at
        # a non-axis level constrains the FACTS (filtered in the
        # base frame); the dense axis itself stays full and shows
        # null cells for excluded members
        if rc.dimension.name == rd.dimension.name and \
                rc.level.key_alias in mf.columns:
            ns = cube.named_set(rc.cut.named_set)
            keys = named_set_keys(spark, sf_dir, cube, ns)
            mf = mf.filter(F.col(rc.level.key_alias).isin(keys))
    return mf


def _vc_members_frame(spark, sf_dir, vc, cubes, cube0, rd,
                      props=None, caption_overrides=None,
                      restrict=None) -> DataFrame:
    """Dense-axis member source on a VIRTUAL cube (r14): a DEGENERATE
    dim's members union every owner cube's fact projection under
    canonical (first-owner) aliases — Mondrian's virtual hierarchy is
    the UNION of the base cubes' member sets, so a dense Day axis must
    enumerate order-only days too.  Table-backed dims are physically
    shared (the first cube's frame IS the union) and degenerate
    property requests stay single-cube (properties bind to one fact's
    columns)."""
    dim = rd.dimension
    if (not dim.is_degenerate or dim.parent_child is not None
            or props):
        return members_frame(spark, sf_dir, cube0, rd, props,
                             caption_overrides, restrict)
    owners = _vc_owners(cubes, vc.name, dim.name)
    if len(owners) <= 1:
        return members_frame(spark, sf_dir, cube0, rd, props,
                             caption_overrides, restrict)

    def union():
        frames = []
        for c in owners:
            dim_c, hier_c, _ = _resolve_level(c, dim.name,
                                              rd.hierarchy.name,
                                              rd.level.name)
            gl_c = [hier_c.level(lv.name) for lv in rd.group_levels]
            rd_c = ResolvedDrill(dim_c, hier_c,
                                 hier_c.level(rd.level.name), gl_c)
            restrict_c = None
            if restrict:
                # restrict cuts were resolved on the FIRST cube;
                # re-bind their levels to this owner so the predicate
                # references this owner's column aliases/exprs
                restrict_c = [ResolvedCut(dim_c, hier_c,
                                          hier_c.level(rc.level.name),
                                          rc.cut)
                              for rc in restrict]
            f = _members_plan(spark, sf_dir, c, rd_c, None,
                              caption_overrides, restrict_c)
            for old, new in _vc_alias_renames(vc, c, owners[0]).items():
                if old in f.columns and new not in f.columns:
                    f = f.withColumnRenamed(old, new)
            frames.append(f)
        return reduce(lambda a, b: a.unionByName(b), frames).distinct()
    if restrict:
        return union()
    # the unrestricted union is held like any level set, stamped with
    # every owner's fact and bridge files
    key = ("virtual", os.path.realpath(sf_dir), id(vc),
           tuple(id(c) for c in owners), dim.name, rd.hierarchy.name,
           rd.level.name, tuple(lv.name for lv in rd.group_levels),
           tuple(sorted((d, l, c) for (d, l), c
                        in (caption_overrides or {}).items())))
    files = _files(sf_dir, [t for c in owners
                            for t in [c.fact] + [b.table
                                                 for b in c.bridges]])
    held = _hold(spark, key, files, union, (vc, owners))
    return held.frame if held.frame is not None else union()


def _exact_counts(frames: list, known: list) -> list:
    """Row counts of ``frames``, taking the ``known`` ones (not None) as
    given and counting the rest in ONE guard job, not one .count()
    action per frame: their single-row count aggregates union into a
    single collect (the branches scan dim-sized frames in parallel)."""
    todo = [f for f, c in zip(frames, known) if c is None]
    if not todo:
        return list(known)
    got = iter(r["__c"] for r in reduce(
        lambda a, b: a.unionAll(b),
        [f.agg(F.count(F.lit(1)).alias("__c")) for f in todo]).collect())
    return [c if c is not None else next(got) for c in known]


def _densify(spark, sf_dir, cube, drills, pred_cuts, ns_cuts, needed_props,
             caption_overrides, agg, group_cols, measure_aliases,
             axis_cuts=None, prop_filters=None,
             existing_dims=None, vc_cubes=None) -> DataFrame:
    """Dense axes: cross-join each drill's member frame, left-join the
    aggregate; empty cells stay null (reference webshop_1.csv golden,
    SURVEY §7.5.1).  Combinatorial by design — opt-in.

    ``axis_cuts``: [(axis index, ResolvedCut)] — implicit member
    slices that DEFINE an idiom axis's member set (.Children/
    .Siblings/OPENINGPERIOD): they restrict that axis's member frame
    even at a coarser level, unlike WHERE cuts which constrain facts
    and leave dense axes full."""
    axis_frames = []
    join_keys: list[str] = []
    existing_set = {d.lower() for d in existing_dims or []}
    for ai, rd in enumerate(drills):
        axis_frames.append(_dense_axis_frame(
            spark, sf_dir, cube, rd, ai, pred_cuts, ns_cuts,
            needed_props, caption_overrides, axis_cuts, prop_filters,
            existing_set, vc_cubes=vc_cubes))
        join_keys += [lv.key_alias for lv in rd.group_levels]
    # combinatorial guard (SURVEY §7.5.1): the dense tuple count is
    # the product of axis cardinalities — refuse plans that would
    # materialize more cells than any client could consume, with a
    # clear 400 instead of an executor OOM.  Applies to a single large
    # axis too (an uncut leaf-level drill with nonempty=false is just
    # as unbounded as a crossjoin).  A held axis knows its exact
    # count; any other axis is bounded by parquet footer row counts
    # (guide §1: don't run a job to learn what metadata already
    # proves — for a degenerate axis that job scans the FACT), and
    # only when the product of those may exceed the cap do the
    # unknown axes get counted, so 400 behavior rests on exact counts.
    counts = [_local_rows(mf) for mf in axis_frames]
    cells = 1
    for c, rd in zip(counts, drills):
        b = c if c is not None else _axis_upper_bound(
            spark, sf_dir, cube, rd, vc_cubes=vc_cubes)
        cells *= b if b is not None else MAX_DENSE_CELLS + 1
    if cells > MAX_DENSE_CELLS:
        counts = _exact_counts(axis_frames, counts)
        cells = 1
        for c in counts:
            cells *= c
            if cells > MAX_DENSE_CELLS:
                raise ParseError(
                    f"dense axes would materialize >{MAX_DENSE_CELLS:,} "
                    "cells; add cuts or use nonempty=true")
    dense = reduce(lambda a, b: a.crossJoin(b), axis_frames)
    agg_slim = agg.select(*join_keys, *measure_aliases)
    if cells <= DENSE_BROADCAST_ROWS:
        agg_slim = F.broadcast(agg_slim)
    out = dense.join(agg_slim, on=join_keys, how="left")
    return out.select(*group_cols, *measure_aliases)


def _densify_gs(spark, sf_dir, cube, drills, ddl_axes, gs_markers, agg,
                group_cols, measure_aliases, pred_cuts, ns_cuts,
                needed_props, caption_overrides, axis_cuts=None,
                prop_filters=None, existing_dims=None,
                keep_markers=False, vc_cubes=None) -> DataFrame:
    """Dense (nonempty=false) mixed-grain axes (r12, VERDICT r11 #1):
    Mondrian's axes are dense by DEFAULT (reference api.rb:137 —
    nonempty is opt-in; the 385-row webshop_1.csv golden is dense), and
    that default applies to DRILLDOWNLEVEL / DRILLDOWNMEMBER axes too.
    The dense fill of a mixed-grain axis is the UNION of per-grouping-
    set dense frames: for each of the 2^k grouping sets, cross-join
    every axis's member frame at THAT set's grain — the parent-only
    frame for subtotal sets, the true (parent, child) pairs from the
    same dim rows otherwise (never an invented parent×child level
    crossjoin) — left-join the matching F.grouping()-marker slice of
    the single Expand aggregate, fill the excluded child columns with
    typed NULLs, and union.  Shares MAX_DENSE_CELLS with the flat
    dense path; the cap applies to the SUM over grouping sets.

    DRILLDOWNMEMBER: the subset filter restricts the CHILD frame (only
    listed parents drill down) but the parent frame derives from the
    unfiltered member rows, so every parent keeps its subtotal row —
    the same shape the nonempty path's marker-guarded filter yields."""
    from itertools import product as _iproduct
    existing_set = {d.lower() for d in existing_dims or []}
    gs_idx: dict[int, int] = {}   # drill position -> ddl_axes index
    for di, rd in enumerate(drills):
        for xi, (plv, clv, _) in enumerate(ddl_axes):
            if (rd.level.name == clv.name
                    and [lv.key_alias for lv in rd.group_levels]
                    == [plv.key_alias, clv.key_alias]):
                gs_idx[di] = xi
    full: dict[int, DataFrame] = {}
    parent_only: dict[int, DataFrame] = {}
    n_parent: dict[int, int] = {}     # exact parent_only counts, if held
    for di, rd in enumerate(drills):
        mf = _dense_axis_frame(spark, sf_dir, cube, rd, di, pred_cuts,
                               ns_cuts, needed_props, caption_overrides,
                               axis_cuts, prop_filters, existing_set,
                               vc_cubes=vc_cubes)
        if di in gs_idx:
            plv, clv, subset_rc = ddl_axes[gs_idx[di]]
            parent_cols = [a for _, a in plv.out_cols()]
            # parent-level member properties ride the subtotal frame
            # too (r13, VERDICT r12 #5) — child-level props were
            # already 400'd by the Expand construction upstream, so
            # every surviving prop on a gs dim is parent-grain and
            # functionally dependent on the parent key
            parent_cols += [p.alias for p
                            in needed_props.get(rd.dimension.name, [])
                            if p.alias in {q.alias
                                           for q in plv.properties}
                            and p.alias in mf.columns
                            and p.alias not in parent_cols]
            parent_only[di] = mf.select(*parent_cols).distinct()
            rows = held_rows(mf.select(*parent_cols))
            if rows is not None:
                n_parent[di] = len(set(map(tuple, rows)))
            if subset_rc is not None:
                mf = mf.filter(_cut_predicate(subset_rc))
        full[di] = mf
    # cell-count guard, same contract as _densify's: held frames give
    # exact counts, the rest parquet-footer bounds (parent_only is a
    # projection of full, so the full-frame bound covers both), and
    # only when the SUM over grouping sets may exceed the cap are the
    # unknown frames counted — refusals use exact counts.
    masks = list(_iproduct((0, 1), repeat=len(ddl_axes)))
    keys = list(full) + [-1 - di for di in parent_only]
    frames = [full[k] if k >= 0 else parent_only[-1 - k] for k in keys]
    known = [_local_rows(full[k]) if k >= 0 else n_parent.get(-1 - k)
             for k in keys]

    def set_total(n_by_key):
        total = 0
        for mask in masks:
            cells = 1
            for di in range(len(drills)):
                if di in gs_idx and mask[gs_idx[di]] == 0:
                    cells *= n_by_key[-1 - di]
                else:
                    cells *= n_by_key[di]
            total += cells
        return total
    bounds = {}
    for k, c in zip(keys, known):
        if c is None:
            b = _axis_upper_bound(spark, sf_dir, cube,
                                  drills[k if k >= 0 else -1 - k],
                                  vc_cubes=vc_cubes)
            c = b if b is not None else MAX_DENSE_CELLS + 1
        bounds[k] = c
    total = set_total(bounds)
    if total > MAX_DENSE_CELLS:
        total = set_total(dict(zip(keys, _exact_counts(frames, known))))
        if total > MAX_DENSE_CELLS:
            raise ParseError(
                f"dense axes would materialize >{MAX_DENSE_CELLS:,} "
                "cells; add cuts or use nonempty=true")
    # union the per-set dense frames FIRST (excluded child columns as
    # typed NULLs, plus each set's marker values as literals), then ONE
    # null-safe equi-join against the single Expand aggregate — the agg
    # is a self-join-like fan-out otherwise: filtering it per mask
    # makes Spark recompute the Expand 2^k times (Spark does not reuse
    # aggregates across branches).  NULL dense child keys match NULL
    # subtotal agg keys via <=>, and the marker columns keep a genuine
    # NULL member key in the data from being conflated with a subtotal.
    all_keys = [lv.key_alias for rd in drills
                for lv in rd.group_levels]
    pieces = []
    for mask in masks:
        axis_frames: list[DataFrame] = []
        null_cols: list[str] = []
        for di, rd in enumerate(drills):
            if di in gs_idx and mask[gs_idx[di]] == 0:
                _, clv, _ = ddl_axes[gs_idx[di]]
                axis_frames.append(parent_only[di])
                null_cols += [a for _, a in clv.out_cols()]
                # child-level property columns null-fill on subtotal
                # rows like the child member columns (r13) — the
                # parent-only frame carries parent props only
                null_cols += [q.alias for q in clv.properties
                              if q.alias in group_cols
                              and q.alias not in parent_only[di].columns]
            else:
                axis_frames.append(full[di])
        dense = reduce(lambda a, b: a.crossJoin(b), axis_frames)
        for a in null_cols:
            dense = dense.withColumn(
                a, F.lit(None).cast(agg.schema[a].dataType))
        # bit==0 -> child excluded -> F.grouping(child key) == 1
        for xi, m in enumerate(gs_markers):
            dense = dense.withColumn(m, F.lit(0 if mask[xi] else 1))
        pieces.append(dense.select(*group_cols, *gs_markers))
    dense_all = reduce(lambda a, b: a.unionByName(b), pieces)
    agg_slim = agg.select(*[F.col(c).alias(f"__agg_{c}")
                            for c in all_keys + gs_markers],
                          *measure_aliases)
    if total <= DENSE_BROADCAST_ROWS:
        agg_slim = F.broadcast(agg_slim)
    cond = reduce(lambda a, b: a & b,
                  [dense_all[m] == agg_slim[f"__agg_{m}"]
                   for m in gs_markers]
                  + [dense_all[k].eqNullSafe(agg_slim[f"__agg_{k}"])
                     for k in all_keys])
    out_cols = list(group_cols) + list(measure_aliases)
    if keep_markers:
        # dense DDLTOP (r13): the caller's per-parent rank window
        # still needs the subtotal markers — dense_all carries them
        # as literals per piece
        out_cols += list(gs_markers)
    return dense_all.join(agg_slim, cond, "left").select(*out_cols)


#: named-set EVALUATION routers (r13): {(appId, sf_dir, cube name):
#: RollupManager}.  A fully-routed query with a computed named set
#: still paid one fact scan — the set's ranking aggregate; with a
#: registered manager that aggregate routes through a covering rollup
#: too (sum-of-sums is exact and the key tie-break is deterministic,
#: so the selected member set is bit-identical).  RollupManager
#: registers itself here; appends call plancache.invalidate(), so
#: re-evaluation sees the merged rollup.
_NS_ROUTERS: dict = {}


def _degenerate_keys_repeat(spark: SparkSession, sf_dir: str, cube: Cube,
                            dim, hier, level) -> bool:
    """True when a degenerate level's member keys repeat under multiple
    parents (quarter keys 1-4 recur every year).  Key-order member
    navigation (LASTPERIODS / .Lag / .Lead) is only sound on totally
    keyed levels — walking Quarter's 4 global keys would silently
    aggregate each step across every year, diverging from Mondrian's
    hierarchy walk — so such levels are rejected like .Parent rejects
    them, rather than answering wrong.

    Decided from the data — countDistinct(key) vs countDistinct(ALL
    ancestor keys, key) in one fact-scan aggregate (the full ancestor
    prefix, not just the immediate parent: Month is unique within its
    Quarter-of-any-year yet still repeats across years) — not from
    naming conventions, and memoized in the plan-time cache like the
    member-key windows it guards: stale once the fact file's mtime
    moves, dropped by plancache.invalidate()."""
    idx = hier.level_index(level.name)
    if idx == 0:          # top level: keys are globally unique by def
        return False
    if level.keys_globally_unique is not None:
        # catalog declaration (ADVICE r7 #3): answer the navigability
        # question without touching the fact — at 100 TB the probe
        # below is a full fact scan on a cold cache
        return not level.keys_globally_unique
    ancestors = hier.levels[:idx]

    def probe():
        anc_cols = [F.expr(a.key).alias(f"__p{i}")
                    for i, a in enumerate(ancestors)]
        row = (load_table(spark, sf_dir, cube.fact)
               .select(F.expr(level.key).alias("__k"), *anc_cols)
               .agg(F.countDistinct("__k").alias("nk"),
                    F.countDistinct(*[f"__p{i}" for i in
                                      range(len(ancestors))],
                                    "__k").alias("npk"))
               .collect()[0])
        return row["npk"] > row["nk"]
    return plancache.get(
        "level_repeats",
        (sf_dir, cube.name, dim.name, hier.name, level.name),
        _files(sf_dir, [cube.fact]), probe)


def named_set_keys(spark: SparkSession, sf_dir: str, cube: Cube, ns) -> list:
    """Collected member keys of a named set.  A TopCount set is k rows
    by definition, so the keys become an IN-literal predicate (pushed
    to the fact scan, better than any join) and the ranking aggregate
    runs once per set definition, not once per query: memoized in the
    plan-time cache, stale once the fact, its bridges or the set's
    dimension tables change on disk, dropped by
    plancache.invalidate()."""
    key = (sf_dir, cube.name, ns.name, ns.dimension, ns.level, ns.top_by,
           ns.k, ns.ascending, getattr(ns, "kind", "top"),
           getattr(ns, "arg", None))
    dim = _resolve_level(cube, ns.dimension, None, ns.level)[0]
    files = _files(sf_dir, [cube.fact] + [b.table for b in cube.bridges]
                   + _dim_tables(dim))
    return plancache.get(
        "named_set", key, files,
        lambda: [r[0] for r in
                 named_set_frame(spark, sf_dir, cube, ns).collect()])


def named_set_frame(spark: SparkSession, sf_dir: str, cube: Cube, ns) -> DataFrame:
    """Materialize a computed named set as a one-column frame of
    member keys, evaluated in the SLICER context (no query cuts).

    kind "top" (reference foodmart.xml:405-410): aggregate the cube at
    the set's level, rank by the measure, keep k.  kind "percent" /
    "sum" (r12): the minimal best-first prefix reaching arg% of the
    set total / the absolute value arg — the same window the
    whole-axis TOPPERCENT/TOPSUM stage runs, over the identical
    axis-sized aggregate.  kind "head"/"tail" (r12): the first/last k
    members in hierarchy (key) order — DIM-side, fact-independent
    (Mondrian HEAD of a level's member set doesn't consult cells).
    Deterministic tie-break on the member key so results are stable
    across engines."""
    dim, hier, level = _resolve_level(cube, ns.dimension, None, ns.level)
    kind = getattr(ns, "kind", "top")
    if kind in ("head", "tail", "subset"):
        rd = ResolvedDrill(dim, hier, level, [level])
        mf = members_frame(spark, sf_dir, cube, rd)
        if kind == "subset":
            # SUBSET(set, i[, n]): the hierarchy-order slice
            mf = mf.orderBy(F.asc(level.key_alias)).offset(int(ns.arg))
            if ns.k >= 0:
                mf = mf.limit(ns.k)
            return mf.select(level.key_alias)
        direction = (F.asc(level.key_alias) if kind == "head"
                     else F.desc(level.key_alias))
        return (mf.orderBy(direction).limit(ns.k)
                  .select(level.key_alias))
    sub = QueryModel(cube=cube.name, measures=[ns.top_by],
                     drilldown=[f"{ns.dimension}.{ns.level}"], nonempty=True)
    mgr = _NS_ROUTERS.get((spark.sparkContext.applicationId, sf_dir,
                           cube.name))
    if mgr is not None and cube is mgr.cube:
        # the set's ranking aggregate routes like any other query
        # (falls back to base inside route() when no rollup covers).
        # Identity check: query-scoped cube COPIES (inline WITH
        # measures the schema cube doesn't have) must evaluate against
        # the passed cube, not the manager's schema cube.
        agg, _ = mgr.route(sub)
    else:
        agg = _aggregate_cube(spark, sf_dir, cube, sub)
    alias = _measure_alias(cube, ns.top_by)
    direction = F.asc(alias) if ns.ascending else F.desc(alias)
    if kind in ("percent", "sum"):
        w_run = (Window.orderBy(direction, F.asc(level.key_alias))
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
        agg = (agg.withColumn("__run__", F.sum(alias).over(w_run))
                  .withColumn("__tot__", F.sum(alias).over(
                      Window.partitionBy())))
        thr = (F.lit(ns.arg) / F.lit(100.0) * F.col("__tot__")
               if kind == "percent" else F.lit(ns.arg))
        return (agg.filter(F.col("__run__") - F.col(alias) < thr)
                   .select(level.key_alias))
    return (agg.orderBy(direction, F.asc(level.key_alias))
               .limit(ns.k)
               .select(level.key_alias))


def _virtualize_idioms(spark: SparkSession, sf_dir: str, cat: Catalog,
                       qm: QueryModel) -> QueryModel:
    """Rewrite member-anchored axis idioms on a VIRTUAL cube —
    ``.Children`` / ``.Parent`` / ``.FirstChild`` / ``.LastChild`` /
    ``.Siblings`` / ``.FirstSibling`` / ``.LastSibling`` /
    ``ANCESTOR`` — into plain drilldown + cut strings before
    drill-across.  These idioms resolve against the catalog and the
    shared (conformed) DIMENSION tables only, never a fact table, so
    resolving once against any base cube owning the dimension is exact
    for every drilled-across cube.  Degenerate dims (whose member keys
    live on each cube's fact) stay a 400 like LASTPERIODS/.Lag.
    """
    import dataclasses

    vc = cat.virtual_cube(qm.cube)
    cubes = [cat.cube(n) for n in vc.cube_names]

    def owning(dim_name: str) -> Cube:
        for c in cubes:
            try:
                c.dimension(dim_name)
                return c
            except KeyError:
                continue
        raise ParseError(f"unknown dimension {dim_name!r} on virtual "
                         f"cube {vc.name!r}")

    drilldown = list(qm.drilldown)
    cut = list(qm.cut)

    for ch in qm.children_of:
        segs = parse_segments(ch)
        if len(segs) < 3:
            raise ParseError(
                f".Children needs [Dim].[Level].[member], got {ch!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        if idx + 1 >= len(hier.levels):
            raise ParseError(
                f"{ch!r}.Children: {level.name!r} is the leaf level of "
                f"hierarchy {hier.name!r}")
        parts = [segs[0]] + ([hier_name] if hier_name else []) + \
            [hier.levels[idx + 1].name]
        drilldown.append(".".join(parts))
        cut.append(ch)

    # OPENINGPERIOD/CLOSINGPERIOD deeper-target form (r11 — was a 400
    # "only walks one step"): same lexicographic chain walk as the
    # base-cube path, resolved once against the shared conformed dim
    # table, then rewritten to a drilldown at the target + the anchor
    # member cut + one cut per walked chain level (exact even when
    # chain keys repeat per parent).  Degenerate dims stay a 400 like
    # the base cube (the lookup would be a fact scan).
    deep_ecs = [e for e in qm.edge_child_of
                if len(e) > 2 and e[2] is not None]
    for ec_path, want_last, target_name in deep_ecs:
        label = "CLOSINGPERIOD" if want_last else "OPENINGPERIOD"
        segs = parse_segments(ec_path)
        if len(segs) < 3:
            raise ParseError(
                f"{label} needs [Dim].[Level].[member], got {ec_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name,
                                          segs[-2])
        if dim.is_degenerate:
            raise ParseError(
                f"{ec_path!r}{label}: not supported on degenerate "
                f"dimension {dim.name!r}")
        idx = hier.level_index(level.name)
        try:
            tgt_idx = hier.level_index(target_name)
        except (KeyError, ValueError):
            raise ParseError(
                f"{label}: hierarchy {hier.name!r} has no level "
                f"{target_name!r}")
        if tgt_idx <= idx:
            raise ParseError(
                f"{label}: level {target_name!r} must be BELOW the "
                f"member's level {level.name!r}")
        chain = list(hier.levels[idx:tgt_idx + 1])
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption \
            else level.key_alias
        order = [F.desc(lv.key_alias) if want_last
                 else F.asc(lv.key_alias) for lv in chain[1:]]
        rows = (_dim_select(spark, sf_dir, dim, chain)
                .filter(F.col(match_col)
                        == F.lit(_coerce(raw.lstrip("&"))))
                .orderBy(*order).limit(1).collect())
        if not rows:
            raise ParseError(f"{ec_path!r}{label}: member not found "
                             "or has no children")
        row = rows[0].asDict()
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else [])
            + [hier.levels[tgt_idx].name]))
        cut.append(ec_path)
        for lv in chain[1:]:
            cut.append(".".join(
                f"[{s}]" for s in
                segs[:-2] + [lv.name, f"&{row[lv.key_alias]}"]))
    for pp, ec_like in ([(p, None) for p in qm.parent_of]
                        + [(e[0], e[1]) for e in qm.edge_child_of
                           if len(e) <= 2 or e[2] is None]):
        label = (".Parent" if ec_like is None
                 else (".LastChild" if ec_like else ".FirstChild"))
        segs = parse_segments(pp)
        if len(segs) < 3:
            raise ParseError(
                f"{label} needs [Dim].[Level].[member], got {pp!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        if dim.is_degenerate:
            raise ParseError(
                f"{pp!r}{label}: not supported on degenerate dimension "
                f"{dim.name!r} (member keys live on each cube's fact)")
        idx = hier.level_index(level.name)
        if ec_like is None:
            if idx == 0:
                raise ParseError(
                    f"{pp!r}.Parent: {level.name!r} is the top level of "
                    f"hierarchy {hier.name!r}")
            target = hier.levels[idx - 1]
        else:
            if idx + 1 >= len(hier.levels):
                raise ParseError(
                    f"{pp!r}{label}: {level.name!r} is the leaf level of "
                    f"hierarchy {hier.name!r}")
            target = hier.levels[idx + 1]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        sel = (_dim_select(spark, sf_dir, dim, [target, level])
               .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&")))))
        if ec_like is None:
            rows = (sel.select(target.key_alias).distinct()
                    .limit(2).collect())
            if len(rows) != 1:
                raise ParseError(
                    f"{pp!r}: member not found"
                    if not rows else f"{pp!r}: parent is ambiguous")
            key = rows[0][0]
        else:
            agg_fn = F.max if ec_like else F.min
            rows = sel.agg(agg_fn(F.col(target.key_alias))).collect()
            if not rows or rows[0][0] is None:
                raise ParseError(f"{pp!r}{label}: member not found "
                                 "or has no children")
            key = rows[0][0]
            cut.append(pp)   # the member slice, like the base-cube path
        drill_parts = [segs[0]] + ([hier_name] if hier_name else []) + \
            [target.name]
        drilldown.append(".".join(drill_parts))
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-2] + [target.name, f"&{key}"]))

    # .Siblings: drill the member's own level + parent cut (top level:
    # the whole level).  Same conformed-dim-only resolution as .Parent.
    for sb in qm.siblings_of:
        segs = parse_segments(sb)
        if len(segs) < 3:
            raise ParseError(
                f".Siblings needs [Dim].[Level].[member], got {sb!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        if dim.is_degenerate:
            raise ParseError(
                f"{sb!r}.Siblings: not supported on degenerate "
                f"dimension {dim.name!r} (member keys live on each "
                f"cube's fact)")
        idx = hier.level_index(level.name)
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else []) + [level.name]))
        if idx == 0:
            continue
        parent = hier.levels[idx - 1]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        rows = (_dim_select(spark, sf_dir, dim, [parent, level])
                .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                .select(parent.key_alias).distinct().limit(2).collect())
        if len(rows) != 1:
            raise ParseError(
                f"{sb!r}: member not found"
                if not rows else f"{sb!r}: parent is ambiguous")
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-2] + [parent.name, f"&{rows[0][0]}"]))

    # .FirstSibling/.LastSibling: the parent's edge child at the
    # member's own level (root level: the level's first/last member)
    for sb_path, want_last in qm.edge_sibling_of:
        label = ".LastSibling" if want_last else ".FirstSibling"
        segs = parse_segments(sb_path)
        if len(segs) < 3:
            raise ParseError(
                f"{label} needs [Dim].[Level].[member], got {sb_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        if dim.is_degenerate:
            raise ParseError(
                f"{sb_path!r}{label}: not supported on degenerate "
                f"dimension {dim.name!r} (member keys live on each "
                f"cube's fact)")
        idx = hier.level_index(level.name)
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else []) + [level.name]))
        agg_fn = F.max if want_last else F.min
        if idx == 0:
            rows = (_dim_select(spark, sf_dir, dim, [level])
                    .agg(agg_fn(F.col(level.key_alias))).collect())
            if not rows or rows[0][0] is None:
                raise ParseError(f"{sb_path!r}{label}: level "
                                 f"{level.name!r} has no members")
            cut.append(".".join(f"[{s}]" for s in
                                segs[:-1] + [f"&{rows[0][0]}"]))
            continue
        parent = hier.levels[idx - 1]
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption else level.key_alias
        prows = (_dim_select(spark, sf_dir, dim, [parent, level])
                 .filter(F.col(match_col) == F.lit(_coerce(raw.lstrip("&"))))
                 .select(parent.key_alias).distinct().limit(2).collect())
        if len(prows) != 1:
            raise ParseError(
                f"{sb_path!r}{label}: member not found"
                if not prows else f"{sb_path!r}{label}: parent is "
                "ambiguous")
        srows = (_dim_select(spark, sf_dir, dim, [parent, level])
                 .filter(F.col(parent.key_alias) == F.lit(prows[0][0]))
                 .agg(agg_fn(F.col(level.key_alias))).collect())
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-2] + [parent.name, f"&{prows[0][0]}"]))
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-2] + [level.name, f"&{srows[0][0]}"]))

    # ANCESTOR: drill the ancestor level + cut to the member's
    # ancestor key, resolved once against the owning base cube's
    # conformed dim (self-level = the member itself)
    for anc_path, target_name in qm.ancestor_of:
        segs = parse_segments(anc_path)
        if len(segs) < 3:
            raise ParseError(
                f"ANCESTOR needs [Dim].[Level].[member], got {anc_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        cube = owning(segs[0])
        dim, hier, level = _resolve_level(cube, segs[0], hier_name, segs[-2])
        idx = hier.level_index(level.name)
        try:
            tgt_idx = hier.level_index(target_name)
        except (KeyError, ValueError):
            raise ParseError(
                f"ANCESTOR: hierarchy {hier.name!r} has no level "
                f"{target_name!r}")
        if tgt_idx > idx:
            raise ParseError(
                f"ANCESTOR: level {target_name!r} must be AT or ABOVE "
                f"the member's level {level.name!r}")
        target = hier.levels[tgt_idx]
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else []) + [target.name]))
        if tgt_idx == idx:
            cut.append(anc_path)
            continue
        if dim.is_degenerate:
            # r11 (was a blanket 400): like the base-cube path, a
            # degenerate member reference resolves when its level's
            # keys are globally unique — the ambiguity 400 comes from
            # _vc_navigable; the lookup walks the UNION member source
            _vc_navigable(spark, sf_dir, cubes, "ANCESTOR", segs[0],
                          hier_name, level.name)
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        # the lookup unions per-cube member sources under CANONICAL
        # aliases, so only the TARGET level must be conformed — the
        # member's own level may alias differently per cube (Day =
        # ship_date vs order_date): the ancestor result is a target-
        # level cut, which every base cube shares
        frames = []
        owners = _vc_owners(cubes, vc.name, segs[0])
        for c in owners:
            dimc, hierc, levelc = _resolve_level(c, segs[0], hier_name,
                                                 level.name)
            targetc = hierc.levels[tgt_idx]
            exprs = {"__t": targetc.key, "__m": levelc.key}
            if use_caption:
                exprs["__mc"] = levelc.caption
            if dimc.is_degenerate:
                frames.append(load_table(spark, sf_dir, c.fact).select(
                    *[F.expr(e).alias(a) for a, e in exprs.items()]))
            else:
                frames = [_dim_frame(spark, sf_dir, dimc,
                                     needed_exprs=list(exprs.values()))
                          .select(*[F.expr(e).alias(a)
                                    for a, e in exprs.items()])]
                break
        keys_src = reduce(lambda a, b: a.unionByName(b), frames)
        match_col = "__mc" if use_caption else "__m"
        keys = plancache.get(
            "member_keys", (sf_dir, vc.name, dim.name, level.name,
                            repr(raw), target_name, "vanc"),
            _files(sf_dir, [c.fact for c in owners] + _dim_tables(dim)),
            lambda: [r[0] for r in
                     (keys_src
                      .filter(F.col(match_col)
                              == F.lit(_coerce(raw.lstrip("&"))))
                      .select("__t").distinct()
                      .limit(2).collect())])
        if len(keys) != 1:
            raise ParseError(
                f"ANCESTOR({anc_path!r}): member not found"
                if not keys else
                f"ANCESTOR({anc_path!r}): ancestor is ambiguous")
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-2] + [target.name, f"&{keys[0]}"]))

    return dataclasses.replace(qm, drilldown=drilldown, cut=cut,
                               children_of=[], parent_of=[],
                               edge_child_of=[], siblings_of=[],
                               edge_sibling_of=[], ancestor_of=[])


def _vc_owners(cubes: list, vc_name: str, dim_name: str) -> list:
    """Base cubes of a virtual cube exposing ``dim_name``."""
    out = [c for c in cubes
           if any(d.name == dim_name for d in c.dimensions)]
    if not out:
        raise ParseError(f"unknown dimension {dim_name!r} on "
                         f"virtual cube {vc_name!r}")
    return out


def _idiom_member_target(spark, sf_dir, cube, dim, hier, level,
                         raw: str, label: str, path: str):
    """(keys_src frame, resolved member key) for a key-order idiom
    (LASTPERIODS/.Lag/.Lead/PTD share it): degenerate dims project the
    fact's key column, table dims the dim select; caption-matched
    references resolve to the key first."""
    if dim.is_degenerate and _degenerate_keys_repeat(
            spark, sf_dir, cube, dim, hier, level):
        raise ParseError(
            f"{label}: not supported on level {level.name!r} of "
            f"degenerate dimension {dim.name!r} (member keys repeat "
            f"per parent, so key-order navigation would cross parents)")
    val = _coerce(raw.lstrip("&"))
    use_caption = (not raw.startswith("&") and level.caption
                   and level.caption_alias
                   and level.caption_alias != level.key_alias)
    if dim.is_degenerate:
        exprs = {level.key_alias: level.key}
        if use_caption:
            exprs[level.caption_alias] = level.caption
        keys_src = load_table(spark, sf_dir, cube.fact).select(
            *[F.expr(e).alias(a) for a, e in exprs.items()])
    else:
        keys_src = _dim_select(spark, sf_dir, dim, [level])
    if use_caption:
        trows = (keys_src
                 .filter(F.col(level.caption_alias) == F.lit(val))
                 .select(level.key_alias).distinct().limit(2).collect())
        if len(trows) != 1:
            raise ParseError(f"{path!r}: member not found")
        return keys_src, trows[0][0]
    return keys_src, val


def resolve_lastperiods(spark: SparkSession, sf_dir: str, cube: Cube,
                        lp_path: str, n_periods: int) -> tuple:
    """LASTPERIODS(n, member) resolution shared by the base planner
    and the rollup router (r14): the n trailing member keys along the
    level's key order, as a drill at the member's level + a member-SET
    cut string — pure drilldown+cut, so a routed query is
    bit-identical.  Memoized in the plan-time cache (the degenerate-dim
    lookup scans the fact's key column once per window)."""
    if n_periods < 1:
        raise ParseError("LASTPERIODS count must be >= 1")
    segs = parse_segments(lp_path)
    if len(segs) < 3:
        raise ParseError(
            f"LASTPERIODS needs [Dim].[Level].[member], got {lp_path!r}")
    hier_name = segs[1] if len(segs) == 4 else None
    dim, hier, level = _resolve_level(cube, segs[0], hier_name,
                                      segs[-2])
    keys_src, target = _idiom_member_target(
        spark, sf_dir, cube, dim, hier, level, segs[-1],
        "LASTPERIODS", lp_path)
    keys = plancache.get(
        "member_keys", (sf_dir, cube.name, dim.name, level.name,
                        repr(target), n_periods),
        _files(sf_dir, [cube.fact] + _dim_tables(dim)),
        lambda: [r[0] for r in
                 (keys_src.select(level.key_alias).distinct()
                  .filter(F.col(level.key_alias) <= F.lit(target))
                  .orderBy(F.col(level.key_alias).desc())
                  .limit(n_periods).collect())])
    # str() fallback: date-keyed levels collect datetime.date while
    # the parsed member stays a string — same member, two reprs
    if not keys or (keys[0] != target
                    and str(keys[0]) != str(target)):
        raise ParseError(f"{lp_path!r}: member not found")
    prefix = segs[:-1]
    cut_str = "{" + ",".join(
        ".".join(f"[{s}]" for s in prefix + [f"&{k}"])
        for k in keys) + "}"
    return dim, hier, level, cut_str


def resolve_member_lag(spark: SparkSession, sf_dir: str, cube: Cube,
                       lg_path: str, shift: int) -> tuple:
    """<member>.Lag(n)/.Lead(n) resolution shared by the base planner
    and the rollup router (r14): the single member n key-order
    positions away, as a drill + member cut string.  Out-of-range
    shifts 400 (Mondrian yields a null member — an empty axis; a clear
    error beats a silently empty REST result)."""
    segs = parse_segments(lg_path)
    if len(segs) < 3:
        raise ParseError(
            f".Lag/.Lead needs [Dim].[Level].[member], got {lg_path!r}")
    hier_name = segs[1] if len(segs) == 4 else None
    dim, hier, level = _resolve_level(cube, segs[0], hier_name,
                                      segs[-2])
    keys_src, target = _idiom_member_target(
        spark, sf_dir, cube, dim, hier, level, segs[-1],
        ".Lag/.Lead", lg_path)
    n_abs = abs(shift)

    def walk_keys():
        base_keys = keys_src.select(level.key_alias).distinct()
        if shift >= 0:       # Lag: walk EARLIER members, desc
            walk = (base_keys
                    .filter(F.col(level.key_alias) <= F.lit(target))
                    .orderBy(F.col(level.key_alias).desc()))
        else:                # Lead: walk LATER members, asc
            walk = (base_keys
                    .filter(F.col(level.key_alias) >= F.lit(target))
                    .orderBy(F.col(level.key_alias).asc()))
        return [r[0] for r in walk.limit(n_abs + 1).collect()]
    keys = plancache.get(
        "member_keys", (sf_dir, cube.name, dim.name, level.name,
                        repr(target), shift, "lag"),
        _files(sf_dir, [cube.fact] + _dim_tables(dim)), walk_keys)
    if not keys or (keys[0] != target
                    and str(keys[0]) != str(target)):
        raise ParseError(f"{lg_path!r}: member not found")
    if len(keys) <= n_abs:
        raise ParseError(
            f"{lg_path!r}: .{'Lag' if shift >= 0 else 'Lead'}"
            f"({n_abs}) runs past the {'first' if shift >= 0 else 'last'}"
            f" member of level {level.name!r}")
    cut_str = ".".join(f"[{s}]" for s in
                       segs[:-1] + [f"&{keys[n_abs]}"])
    return dim, hier, level, cut_str


def resolve_ptd(spark: SparkSession, sf_dir: str, cube: Cube,
                anchor_name: str, m_path: str
                ) -> tuple:
    """PERIODSTODATE(anchor_level, member) resolution shared by the
    base planner and the rollup router (r14): the anchor PERIOD is
    identified by the member's ancestor chain from the root through
    the anchor level (anchor keys may repeat per parent: quarter 1-4
    every year); the member range then runs from the period's first
    member through the member itself.  Returns (dim, hier, level,
    cut_strings) where cut_strings = one member cut per chain level +
    the range cut — the exact drilldown+cut rewrite both paths
    execute, so a routed PTD query is bit-identical to the base one.
    Member lookups memoize in the plan-time cache."""
    segs = parse_segments(m_path)
    if len(segs) < 3:
        raise ParseError(
            f"PERIODSTODATE needs [Dim].[Level].[member], got "
            f"{m_path!r}")
    hier_name = segs[1] if len(segs) == 4 else None
    dim, hier, level = _resolve_level(cube, segs[0], hier_name,
                                      segs[-2])
    idx = hier.level_index(level.name)
    try:
        anchor_idx = hier.level_index(anchor_name)
    except (KeyError, ValueError):
        raise ParseError(
            f"PERIODSTODATE: hierarchy {hier.name!r} has no level "
            f"{anchor_name!r}")
    if anchor_idx >= idx:
        raise ParseError(
            f"PERIODSTODATE: level {anchor_name!r} must be ABOVE "
            f"the member's level {level.name!r}")
    if dim.is_degenerate and _degenerate_keys_repeat(
            spark, sf_dir, cube, dim, hier, level):
        raise ParseError(
            f"PERIODSTODATE: not supported on level {level.name!r} "
            f"of degenerate dimension {dim.name!r} (member keys "
            f"repeat per parent, so the member reference is "
            f"ambiguous)")
    chain = list(hier.levels[: anchor_idx + 1])
    raw = segs[-1]
    use_caption = (not raw.startswith("&") and level.caption
                   and level.caption_alias
                   and level.caption_alias != level.key_alias)
    match_col = level.caption_alias if use_caption else level.key_alias

    def period_keys():
        if dim.is_degenerate:
            exprs = {lv.key_alias: lv.key for lv in chain}
            exprs[level.key_alias] = level.key
            if use_caption:
                exprs[level.caption_alias] = level.caption
            keys_src = load_table(spark, sf_dir, cube.fact).select(
                *[F.expr(e).alias(a) for a, e in exprs.items()])
        else:
            keys_src = _dim_select(spark, sf_dir, dim,
                                   chain + [level])
        rows = (keys_src
                .filter(F.col(match_col)
                        == F.lit(_coerce(raw.lstrip("&"))))
                .select(*[lv.key_alias for lv in chain],
                        level.key_alias)
                .distinct().limit(2).collect())
        if len(rows) != 1:
            raise ParseError(
                f"PERIODSTODATE({m_path!r}): member not found"
                if not rows else
                f"PERIODSTODATE({m_path!r}): member is ambiguous")
        row = rows[0].asDict()
        anc_keys = [row[lv.key_alias] for lv in chain]
        member_key = row[level.key_alias]
        cond = F.lit(True)
        for lv, k in zip(chain, anc_keys):
            cond = cond & (F.col(lv.key_alias) == F.lit(k))
        start = (keys_src.filter(cond)
                 .agg(F.min(level.key_alias)).collect()[0][0])
        return anc_keys, member_key, start
    anc_keys, member_key, start = plancache.get(
        "member_keys", (sf_dir, cube.name, dim.name, level.name,
                        repr(raw), anchor_name, "ptd"),
        _files(sf_dir, [cube.fact] + _dim_tables(dim)), period_keys)
    cut_strs = []
    for lv, k in zip(chain, anc_keys):
        cut_strs.append(".".join(f"[{s}]" for s in
                                 segs[:-2] + [lv.name, f"&{k}"]))
    a = ".".join(f"[{s}]" for s in segs[:-1] + [f"&{start}"])
    b = ".".join(f"[{s}]" for s in segs[:-1] + [f"&{member_key}"])
    cut_strs.append(f"({a}:{b})")
    return dim, hier, level, cut_strs


def _vc_alias_renames(vc, cube: Cube, ref_cube: Cube) -> dict[str, str]:
    """{this cube's alias -> reference cube's alias} for the virtual
    cube's declared ``alias_conformed_levels`` (r14, VERDICT r13 #6):
    a level whose member-key aliases legitimately differ per base cube
    (Day = ship_date vs order_date) conforms by RENAME — each cube
    aggregates at its own column and the drill-across join lines up on
    the reference alias.  Mondrian analog: a shared dimension joined
    through each fact's own FK (foodmart time_by_day on Sales vs
    Warehouse).  Undeclared mismatches keep the documented 400."""
    ren: dict[str, str] = {}
    pairs = set(getattr(vc, "alias_conformed_levels", ()) or ())
    if not pairs or cube.name == ref_cube.name:
        return ren
    for d in cube.dimensions:
        d0 = next((x for x in ref_cube.dimensions if x.name == d.name),
                  None)
        if d0 is None:
            continue
        for h in d.hierarchies:
            h0 = next((x for x in d0.hierarchies if x.name == h.name),
                      None)
            if h0 is None:
                continue
            for lv in h.levels:
                if (d.name, lv.name) not in pairs:
                    continue
                lv0 = next((x for x in h0.levels
                            if x.name == lv.name), None)
                if lv0 is None:
                    continue
                if lv.key_alias != lv0.key_alias:
                    ren[lv.key_alias] = lv0.key_alias
                if (lv.caption_alias and lv0.caption_alias
                        and lv.caption_alias != lv0.caption_alias):
                    ren[lv.caption_alias] = lv0.caption_alias
    return ren


def _vc_union_src(spark: SparkSession, sf_dir: str, cubes: list,
                  vc_name: str, dim_name: str, hier_name,
                  level_names: list[str],
                  caption_level: str | None = None,
                  vc=None) -> DataFrame:
    """Member source of a conformed dimension on a VIRTUAL cube: the
    UNION of the base cubes' member sources projecting the named
    levels' key aliases (+ the caption alias of ``caption_level`` when
    distinct) — Mondrian virtual-cube hierarchy semantics.  Degenerate
    dims project each cube's fact; a table-backed conformed dim is
    physically shared, so the first cube's dim-side select is already
    the union.  Mismatched aliases (Day = ship_date vs order_date) are
    the same non-conformed 400 the drill-across join raises."""
    frames = []
    table_backed_done = False
    owners = _vc_owners(cubes, vc_name, dim_name)
    for c in owners:
        dim, hier, _ = _resolve_level(c, dim_name, hier_name,
                                      level_names[0])
        levels = [hier.level(ln) for ln in level_names]
        exprs = {lv.key_alias: lv.key for lv in levels}
        if caption_level is not None:
            lv = hier.level(caption_level)
            if lv.caption and lv.caption_alias \
                    and lv.caption_alias != lv.key_alias:
                exprs[lv.caption_alias] = lv.caption
        if vc is not None and owners:
            # declared alias-conformed levels project under the FIRST
            # owner's alias so the union lines up (r14)
            ren = _vc_alias_renames(vc, c, owners[0])
            exprs = {ren.get(a, a): e for a, e in exprs.items()}
        if not dim.is_degenerate:
            # table-backed conformed dims are physically shared, so
            # ONE dim-side select covers every table-backed owner —
            # but it must still UNION with any degenerate owners'
            # fact-projected members (a dim degenerate on one cube
            # and table-backed on another contributes members from
            # both backings to the virtual hierarchy)
            if table_backed_done:
                continue
            table_backed_done = True
            frames.append(
                _dim_select(spark, sf_dir, dim, levels)
                .select(*[F.col(a) for a in exprs]))
        else:
            frames.append(load_table(spark, sf_dir, c.fact).select(
                *[F.expr(e).alias(a) for a, e in exprs.items()]))
    cols0 = set(frames[0].columns)
    for f in frames[1:]:
        if set(f.columns) != cols0:
            raise ParseError(
                f"level {level_names[-1]!r} of dimension "
                f"{dim_name!r} is not conformed across the "
                f"virtual cube's base cubes (member aliases "
                f"differ: {sorted(cols0 ^ set(f.columns))}); "
                "navigate a level whose aliases match or query "
                "the base cube")
    return reduce(lambda a, b: a.unionByName(b), frames)


def _vc_navigable(spark: SparkSession, sf_dir: str, cubes: list,
                  label: str, dim_name: str, hier_name,
                  lvl_name: str) -> None:
    """400 when key-order navigation (or an unqualified member
    reference) on a degenerate level is ambiguous in ANY base cube —
    same rule as the base-cube path, checked per owner (quarter keys
    repeat per year in each fact)."""
    for c in cubes:
        if not any(d.name == dim_name for d in c.dimensions):
            continue
        dim, hier, level = _resolve_level(c, dim_name, hier_name,
                                          lvl_name)
        if dim.is_degenerate and _degenerate_keys_repeat(
                spark, sf_dir, c, dim, hier, level):
            raise ParseError(
                f"{label}: not supported on level {level.name!r} "
                f"of degenerate dimension {dim.name!r} (member "
                "keys repeat per parent, so key-order navigation "
                "would cross parents)")


def _virtualize_time_nav(spark: SparkSession, sf_dir: str, cat: Catalog,
                         qm: QueryModel) -> QueryModel:
    """Rewrite the time-navigation / WITH SET family on a VIRTUAL cube
    (r11, VERDICT r10 #1) into plain drilldown + cut strings before
    drill-across: LASTPERIODS, ``.Lag``/``.Lead``, PERIODSTODATE and
    query-scoped WITH SET (TOPCOUNT form).  Mondrian executes all of
    these against virtual cubes (reference foodmart.xml:758-790
    "Warehouse and Sales", whose own calc members time-navigate,
    :749-755 Profit Growth).

    Member sets of a conformed dimension on a virtual cube are the
    UNION of the base cubes' member sets (Mondrian virtual-cube
    hierarchy semantics), so key-order walks resolve against the union
    of the per-cube member sources — one bounded, memoized lookup
    keyed by the VIRTUAL cube — and the rewritten cut strings then
    apply to every base cube's sub-aggregate identically.  Table-backed
    dims are shared physically, so one dim-side select IS the union.
    WITH SET ranks on the base cube OWNING the measure (a virtual
    cube's cell for a single-cube measure is that cube's cell),
    yielding a memoized IN-literal cut exactly like schema named sets.
    """
    import dataclasses

    vc = cat.virtual_cube(qm.cube)
    cubes = [cat.cube(n) for n in vc.cube_names]

    def owners_of(dim_name: str) -> list[Cube]:
        return _vc_owners(cubes, vc.name, dim_name)

    def files_of(dim_name: str, dim: Dimension) -> list[str]:
        """Plan-time cache stamp of a member lookup over the union
        member source: the owning facts plus the conformed dim's
        tables (shared physically across the base cubes)."""
        return _files(sf_dir, [c.fact for c in owners_of(dim_name)]
                      + _dim_tables(dim))

    def conformed(label: str, dim_name: str) -> None:
        if dim_name not in vc.conformed_dimensions:
            raise ParseError(
                f"{label}: virtual cube {vc.name!r} only exposes "
                f"conformed dims {vc.conformed_dimensions}")

    def navigable(label: str, dim_name: str, hier_name, lvl_name) -> None:
        _vc_navigable(spark, sf_dir, cubes, label, dim_name, hier_name,
                      lvl_name)

    def union_src(dim_name: str, hier_name, level_names: list[str],
                  caption_level: str | None = None) -> DataFrame:
        return _vc_union_src(spark, sf_dir, cubes, vc.name, dim_name,
                             hier_name, level_names, caption_level,
                             vc=vc)

    def member_target(keys_src: DataFrame, level, raw: str, ref: str):
        """Member key from a raw segment (caption-matched when the
        level has a distinct caption and the ref isn't &-keyed)."""
        val = _coerce(raw.lstrip("&"))
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        if not use_caption:
            return val
        trows = (keys_src
                 .filter(F.col(level.caption_alias) == F.lit(val))
                 .select(level.key_alias).distinct().limit(2).collect())
        if len(trows) != 1:
            raise ParseError(f"{ref!r}: member not found")
        return trows[0][0]

    drilldown = list(qm.drilldown)
    cut = list(qm.cut)
    empty_set = qm.empty_set
    empty_slicer = qm.empty_slicer

    # --- LASTPERIODS(n, <member>): the n level keys ending at the
    # --- member over the UNION member set, as an IN-literal cut ---
    for lp_path, n_periods in qm.lastperiods:
        if n_periods < 1:
            raise ParseError("LASTPERIODS count must be >= 1")
        segs = parse_segments(lp_path)
        if len(segs) < 3:
            raise ParseError(
                f"LASTPERIODS needs [Dim].[Level].[member], got "
                f"{lp_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        conformed("LASTPERIODS", segs[0])
        navigable("LASTPERIODS", segs[0], hier_name, segs[-2])
        c0 = owners_of(segs[0])[0]
        dim, hier, level = _resolve_level(c0, segs[0], hier_name,
                                          segs[-2])
        keys_src = union_src(segs[0], hier_name, [level.name],
                             caption_level=level.name)
        target = member_target(keys_src, level, segs[-1], lp_path)
        keys = plancache.get(
            "member_keys", (sf_dir, vc.name, dim.name, level.name,
                            repr(target), n_periods),
            files_of(segs[0], dim),
            lambda: [r[0] for r in
                     (keys_src.select(level.key_alias).distinct()
                      .filter(F.col(level.key_alias) <= F.lit(target))
                      .orderBy(F.col(level.key_alias).desc())
                      .limit(n_periods).collect())])
        if not keys or (keys[0] != target
                        and str(keys[0]) != str(target)):
            raise ParseError(f"{lp_path!r}: member not found")
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else [])
            + [level.name]))
        prefix = segs[:-1]
        cut.append("{" + ",".join(
            ".".join(f"[{s}]" for s in prefix + [f"&{k}"])
            for k in keys) + "}")

    # --- <member>.Lag(n) / .Lead(n): the member n positions away
    # --- along the UNION key order, as a drilldown + member cut ---
    for lg_path, shift in qm.member_lags:
        segs = parse_segments(lg_path)
        if len(segs) < 3:
            raise ParseError(
                f".Lag/.Lead needs [Dim].[Level].[member], got "
                f"{lg_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        conformed(".Lag/.Lead", segs[0])
        navigable(".Lag/.Lead", segs[0], hier_name, segs[-2])
        c0 = owners_of(segs[0])[0]
        dim, hier, level = _resolve_level(c0, segs[0], hier_name,
                                          segs[-2])
        keys_src = union_src(segs[0], hier_name, [level.name],
                             caption_level=level.name)
        target = member_target(keys_src, level, segs[-1], lg_path)
        n_abs = abs(shift)

        def walk_keys():
            base_keys = keys_src.select(level.key_alias).distinct()
            if shift >= 0:       # Lag: walk EARLIER members, desc
                walk = (base_keys
                        .filter(F.col(level.key_alias) <= F.lit(target))
                        .orderBy(F.col(level.key_alias).desc()))
            else:                # Lead: walk LATER members, asc
                walk = (base_keys
                        .filter(F.col(level.key_alias) >= F.lit(target))
                        .orderBy(F.col(level.key_alias).asc()))
            return [r[0] for r in walk.limit(n_abs + 1).collect()]
        keys = plancache.get(
            "member_keys", (sf_dir, vc.name, dim.name, level.name,
                            repr(target), shift, "lag"),
            files_of(segs[0], dim), walk_keys)
        if not keys or (keys[0] != target
                        and str(keys[0]) != str(target)):
            raise ParseError(f"{lg_path!r}: member not found")
        if len(keys) <= n_abs:
            raise ParseError(
                f"{lg_path!r}: .{'Lag' if shift >= 0 else 'Lead'}"
                f"({n_abs}) runs past the "
                f"{'first' if shift >= 0 else 'last'} member of level "
                f"{level.name!r}")
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else [])
            + [level.name]))
        cut.append(".".join(f"[{s}]" for s in
                            segs[:-1] + [f"&{keys[n_abs]}"]))

    # --- PERIODSTODATE(<anchor>, <member>): the member's level from
    # --- the anchor period's opening (over the UNION member set)
    # --- through the member — ancestor-chain cuts + a range cut ---
    for anchor_name, m_path in qm.periods_to_date:
        segs = parse_segments(m_path)
        if len(segs) < 3:
            raise ParseError(
                f"PERIODSTODATE needs [Dim].[Level].[member], got "
                f"{m_path!r}")
        hier_name = segs[1] if len(segs) == 4 else None
        conformed("PERIODSTODATE", segs[0])
        c0 = owners_of(segs[0])[0]
        dim, hier, level = _resolve_level(c0, segs[0], hier_name,
                                          segs[-2])
        idx = hier.level_index(level.name)
        try:
            anchor_idx = hier.level_index(anchor_name)
        except (KeyError, ValueError):
            raise ParseError(
                f"PERIODSTODATE: hierarchy {hier.name!r} has no level "
                f"{anchor_name!r}")
        if anchor_idx >= idx:
            raise ParseError(
                f"PERIODSTODATE: level {anchor_name!r} must be ABOVE "
                f"the member's level {level.name!r}")
        navigable("PERIODSTODATE", segs[0], hier_name, segs[-2])
        chain = list(hier.levels[: anchor_idx + 1])
        keys_src = union_src(
            segs[0], hier_name,
            [lv.name for lv in chain] + [level.name],
            caption_level=level.name)
        raw = segs[-1]
        use_caption = (not raw.startswith("&") and level.caption
                       and level.caption_alias
                       and level.caption_alias != level.key_alias)
        match_col = level.caption_alias if use_caption \
            else level.key_alias

        def period_keys():
            rows = (keys_src
                    .filter(F.col(match_col)
                            == F.lit(_coerce(raw.lstrip("&"))))
                    .select(*[lv.key_alias for lv in chain],
                            level.key_alias)
                    .distinct().limit(2).collect())
            if len(rows) != 1:
                raise ParseError(
                    f"PERIODSTODATE({m_path!r}): member not found"
                    if not rows else
                    f"PERIODSTODATE({m_path!r}): member is ambiguous")
            row = rows[0].asDict()
            anc_keys = [row[lv.key_alias] for lv in chain]
            member_key = row[level.key_alias]
            cond = F.lit(True)
            for lv, k in zip(chain, anc_keys):
                cond = cond & (F.col(lv.key_alias) == F.lit(k))
            start = (keys_src.filter(cond)
                     .agg(F.min(level.key_alias)).collect()[0][0])
            return anc_keys, member_key, start
        anc_keys, member_key, start = plancache.get(
            "member_keys", (sf_dir, vc.name, dim.name, level.name,
                            repr(raw), anchor_name, "ptd"),
            files_of(segs[0], dim), period_keys)
        drilldown.append(".".join(
            [segs[0]] + ([hier_name] if hier_name else [])
            + [level.name]))
        for lv, k in zip(chain, anc_keys):
            cut.append(".".join(f"[{s}]" for s in
                                segs[:-2] + [lv.name, f"&{k}"]))
        a = ".".join(f"[{s}]" for s in segs[:-1] + [f"&{start}"])
        b = ".".join(f"[{s}]" for s in segs[:-1] + [f"&{member_key}"])
        cut.append(f"({a}:{b})")

    # --- WITH SET (TOPCOUNT/BOTTOMCOUNT form): rank on the measure's
    # --- owning base cube, then rewrite set references into the
    # --- level drilldown + a memoized IN-literal member-set cut ---
    axis_sel_cuts: list[str] = []
    if qm.with_sets:
        from .catalog import NamedSet
        for name, level_path, k, top_by, ascending in qm.with_sets:
            wsegs = level_path.split(".")
            conformed(f"WITH SET {name!r}", wsegs[0])
            if k < 1:
                raise ParseError(
                    f"WITH SET {name!r}: count must be >= 1")
            owner = next((c for c in cubes if _has_measure(c, top_by)),
                         None)
            if owner is None:
                raise ParseError(
                    f"WITH SET {name!r}: unknown ranking measure "
                    f"{top_by!r} on virtual cube {vc.name!r}")
            try:
                dim = owner.dimension(wsegs[0])
                hier = (dim.hierarchy(wsegs[1]) if len(wsegs) == 3
                        else dim.default_hierarchy())
                level = hier.level(wsegs[-1])
            except KeyError as e:
                raise ParseError(f"WITH SET {name!r}: {e}")
            if len(wsegs) == 3 and hier is not dim.default_hierarchy():
                raise ParseError(
                    f"WITH SET {name!r}: named sets rank over the "
                    f"default hierarchy; got {wsegs[1]!r}")
            ns = NamedSet(name, dimension=dim.name, level=level.name,
                          top_by=top_by, k=k, ascending=ascending)
            keys = named_set_keys(spark, sf_dir, owner, ns)
            set_cut = "{" + ",".join(
                f"[{dim.name}].[{level.name}].[&{kk}]"
                for kk in keys) + "}"
            for i, d in enumerate(drilldown):
                if d == name:
                    drilldown[i] = f"{dim.name}.{level.name}"
                    if keys:
                        cut.append(set_cut)
                        # an AXIS selection, not slicer context (r12):
                        # GENERATE/DDLTOP rank bases must exclude it
                        axis_sel_cuts.append(set_cut)
                    else:
                        empty_set = True   # valid Mondrian: empty axis
            for i, c in enumerate(list(cut)):
                if c == name:
                    if keys:
                        cut[i] = set_cut
                    else:
                        cut.pop(i)
                        empty_slicer = True

    # inline computed sets from crossjoin-position set functions (r12:
    # TOPPERCENT/TOPSUM/HEAD/TAIL) — same rewrite as WITH SET above:
    # evaluate once (measure kinds on the measure's OWNING cube,
    # head/tail against the conformed dimension of any owner), then
    # drilldown + member-set cut marked as an AXIS selection
    for name, level_path, kind, arg, top_by, bottom in \
            getattr(qm, "with_sets_ext", []) or []:
        from .catalog import NamedSet
        wsegs = level_path.split(".")
        conformed(f"computed set {name!r}", wsegs[0])
        if kind in ("head", "tail", "subset"):
            owner = next((c for c in cubes
                          if any(d.name == wsegs[0]
                                 for d in c.dimensions)), None)
        else:
            owner = next((c for c in cubes if _has_measure(c, top_by)),
                         None)
        if owner is None:
            raise ParseError(
                f"computed set {name!r}: unknown ranking measure "
                f"{top_by!r} on virtual cube {vc.name!r}")
        try:
            dim = owner.dimension(wsegs[0])
            hier = (dim.hierarchy(wsegs[1]) if len(wsegs) == 3
                    else dim.default_hierarchy())
            level = hier.level(wsegs[-1])
        except KeyError as e:
            raise ParseError(f"computed set {name!r}: {e}")
        if kind == "subset":
            off, cnt = arg
            ns = NamedSet(name, dimension=dim.name, level=level.name,
                          top_by=None,
                          k=(-1 if cnt is None else int(cnt)),
                          kind=kind, arg=float(off))
        elif kind in ("head", "tail"):
            ns = NamedSet(name, dimension=dim.name, level=level.name,
                          top_by=None, k=int(arg), kind=kind)
        else:
            ns = NamedSet(name, dimension=dim.name, level=level.name,
                          top_by=top_by, k=0, ascending=bottom,
                          kind=kind, arg=float(arg))
        keys = named_set_keys(spark, sf_dir, owner, ns)
        set_cut = "{" + ",".join(
            f"[{dim.name}].[{level.name}].[&{kk}]"
            for kk in keys) + "}"
        for i, d in enumerate(drilldown):
            if d == name:
                drilldown[i] = f"{dim.name}.{level.name}"
                if keys:
                    cut.append(set_cut)
                    axis_sel_cuts.append(set_cut)
                else:
                    empty_set = True

    return dataclasses.replace(
        qm, drilldown=drilldown, cut=cut, lastperiods=[],
        member_lags=[], periods_to_date=[], with_sets=[],
        with_sets_ext=[],
        empty_set=empty_set, empty_slicer=empty_slicer,
        vc_axis_sel_cuts=list(getattr(qm, "vc_axis_sel_cuts", []))
        + axis_sel_cuts)


def _vc_dense_inputs(cube0: Cube, qm: QueryModel, gen_v=None):
    """Resolve the dense-fill inputs of a virtual-cube query against
    the FIRST base cube (dims are conformed by contract): drills,
    cuts, caption overrides, needed properties, and property-filter
    predicates — shared by the flat (_densify) and grouping-sets
    (_densify_gs) virtual dense paths (r14).

    ``gen_v``: the GENERATE (dim, hier, parent_level, child_level)
    tuple when set — its two appended drilldown entries collapse into
    ONE ResolvedDrill carrying the true (parent, child) pairs, so the
    dense member frame never invents pairs by crossjoining the levels
    separately (the base-cube dense GENERATE shape)."""
    ns_names0 = {s.name for s in cube0.named_sets}
    drills_d: list[ResolvedDrill] = []
    for d in qm.drilldown:
        parsed = parse_drilldown(d, ns_names0)
        if isinstance(parsed, str):
            ns = cube0.named_set(parsed)
            dimx, hierx, levelx = _resolve_level(
                cube0, ns.dimension, None, ns.level)
            idxx = hierx.level_index(levelx.name)
            gl = (list(hierx.levels[: idxx + 1]) if qm.parents
                  else [levelx])
            drills_d.append(ResolvedDrill(dimx, hierx, levelx, gl))
        else:
            if gen_v is not None and parsed.dimension == gen_v[0].name:
                continue   # collapsed into the pair drill below
            drills_d.append(_resolve_drill(cube0, parsed, qm.parents))
    if gen_v is not None:
        g_dim, g_hier, g_level, g_child = gen_v
        drills_d.append(ResolvedDrill(g_dim, g_hier, g_child,
                                      [g_level, g_child]))
    cuts_d = [_resolve_cut(cube0, parse_cut(c, ns_names0))
              for c in qm.cut]
    cap_over: dict = {}
    for c in qm.caption:
        ref = parse_property(c)
        dimx, _, levelx = _resolve_level(
            cube0, ref.dimension, ref.hierarchy, ref.level)
        cap_over[(dimx.name, levelx.name)] = \
            levelx.find_property(ref.prop).column
    needed_props_d = props_by_dim(
        resolved_props(cube0, qm.properties))
    # member-property FILTER restricts the axis SET (r11): the
    # dense member frames must drop the excluded members, exactly
    # like the base-cube path
    prop_filter_preds_d: list[tuple] = []
    for ref_str, fop, fval in qm.property_filters:
        ref = parse_property(ref_str)
        dimx, _, levelx = _resolve_level(
            cube0, ref.dimension, ref.hierarchy, ref.level)
        pr = levelx.find_property(ref.prop)
        plist = needed_props_d.setdefault(dimx.name, [])
        if pr.alias not in [x.alias for x in plist]:
            plist.append(pr)
        prop_filter_preds_d.append((dimx.name, pr.alias, fop, fval))
    return drills_d, cuts_d, cap_over, needed_props_d, prop_filter_preds_d


def _aggregate_virtual(spark: SparkSession, sf_dir: str, cat: Catalog,
                       qm: QueryModel,
                       routers: dict | None = None) -> DataFrame:
    """Drill-across: aggregate each base cube over the conformed dims,
    full-outer join on the shared level aliases (reference virtual cube,
    foodmart.xml:758-790; SURVEY J6).  With ``routers``, each per-cube
    sub-aggregate routes through that cube's aggregate tables when one
    covers (r11) — the router's own refusal rules keep semantics
    identical, and inline-calc subs stay on the direct path (the
    router only knows the schema cube)."""
    vc = cat.virtual_cube(qm.cube)
    cubes = [cat.cube(n) for n in vc.cube_names]
    for d in qm.drilldown:
        parsed = parse_drilldown(d)
        if isinstance(parsed, DrilldownSpec) and \
                parsed.dimension not in vc.conformed_dimensions:
            raise ParseError(
                f"virtual cube {vc.name!r} only exposes conformed dims "
                f"{vc.conformed_dimensions}")
    for spec, _ in getattr(qm, "gs_axes", []) or []:
        # grouping-sets axes virtualize (r10): each base cube runs its
        # own Expand pass and the drill-across join aligns subtotal
        # rows null-safely below — but only over conformed dims.
        # Dense (nonempty=false) virtualizes since r14 (VERDICT r13
        # #1): the per-cube subs keep their F.grouping() markers
        # through the join and _densify_gs fills the joined frame —
        # the member-pair frames resolve on cubes[0] (dims conformed
        # by contract), exactly the base-cube dense shape.
        if spec.split(".")[0] not in vc.conformed_dimensions:
            raise ParseError(
                f"virtual cube {vc.name!r} only exposes conformed dims "
                f"{vc.conformed_dimensions}")
    gs_top_v = list(getattr(qm, "gs_top", []) or [])
    if gs_top_v and len(getattr(qm, "gs_axes", []) or []) > 1:
        # same 400 as the base path: another grouping-sets axis would
        # interleave its subtotal rows into the per-parent marginal
        raise ParseError(
            "DRILLDOWNLEVELTOP/DRILLDOWNLEVELBOTTOM cannot combine "
            "with another DRILLDOWNLEVEL/DRILLDOWNMEMBER/VISUALTOTALS "
            "axis in this MDX subset (the other axis' subtotal rows "
            "would pollute the per-parent marginal)")
    # --- GENERATE(<level>.Members, TOPCOUNT(...)) virtualizes (r11,
    # --- VERDICT r10 #1): the (parent, child) level pair is drilled on
    # --- every base cube, and the per-parent row_number window runs on
    # --- the JOINED drill-across frame below (measure from the owning
    # --- cube, axis-sized, never a fact) — same shape as RANK ---
    gen_v = None   # (dim, hier, parent_level, child_level)
    if getattr(qm, "generate_more", []):
        raise ParseError(
            "one GENERATE per query on virtual cubes in this MDX "
            "subset; query the base cube for multi-dimension GENERATE")
    if qm.generate_top is not None:
        if getattr(qm, "gs_axes", []):
            raise ParseError(
                "GENERATE cannot combine with DRILLDOWNLEVEL/"
                "DRILLDOWNMEMBER in this MDX subset")
        # dense GENERATE virtualizes since r14 (VERDICT r13 #1): the
        # dense fill below builds ONE member frame carrying the true
        # (parent, child) pairs (never a parent×child crossjoin of
        # the two levels' separate frames) and the post-join rank
        # window orders nulls-last with the child-key tie-break —
        # the same semantics the base-cube dense GENERATE has.
        if qm.parents:
            raise ParseError(
                "parents=true cannot combine with GENERATE on a "
                "virtual cube in this MDX subset")
        g_path, g_n, g_m, g_asc = qm.generate_top
        _, g_target = (getattr(qm, "generate_inner", None)
                       or ("measure", None))
        gsegs = g_path.split(".")
        if gsegs[0] not in vc.conformed_dimensions:
            raise ParseError(
                f"virtual cube {vc.name!r} only exposes conformed dims "
                f"{vc.conformed_dimensions}")
        gcube = next(c for c in cubes
                     if any(d.name == gsegs[0] for d in c.dimensions))
        g_hier_name = gsegs[1] if len(gsegs) == 3 else None
        g_dim, g_hier, g_level = _resolve_level(
            gcube, gsegs[0], g_hier_name, gsegs[-1])
        g_idx = g_hier.level_index(g_level.name)
        if g_target is None:
            if g_idx + 1 >= len(g_hier.levels):
                raise ParseError(
                    f"GENERATE: {g_level.name!r} is the leaf level of "
                    f"hierarchy {g_hier.name!r}; .Children needs a "
                    "level below")
            g_tgt_idx = g_idx + 1
        else:
            try:
                g_tgt_idx = g_hier.level_index(g_target)
            except (KeyError, ValueError):
                raise ParseError(
                    f"GENERATE: unknown DESCENDANTS level {g_target!r} "
                    f"in hierarchy {g_hier.name!r}")
            if g_tgt_idx <= g_idx:
                raise ParseError(
                    f"GENERATE: DESCENDANTS level {g_target!r} must be "
                    f"below the outer level {g_level.name!r}")
        # nested-GENERATE ancestry must reject identically to the base
        # path (r12: without this, an invalid nesting silently ran the
        # flattened query on virtual cubes while 400ing on base cubes)
        _validate_generate_nested(gcube, qm, g_path, g_dim, g_hier,
                                  g_level, g_idx)
        for d in qm.drilldown:
            parsed = parse_drilldown(d)
            if isinstance(parsed, DrilldownSpec) and \
                    parsed.dimension == g_dim.name:
                raise ParseError(
                    f"GENERATE over dimension {g_dim.name!r} cannot "
                    "combine with another drilldown of the same "
                    "dimension")
        for ref_str, _, _ in qm.property_filters:
            if parse_property(ref_str).dimension.lower() \
                    == g_dim.name.lower():
                # same 400 as the base-cube path: the exclusion would
                # re-rank the per-parent top-N (Mondrian evaluates
                # GENERATE's TOPCOUNT over the UNFILTERED set)
                raise ParseError(
                    f"a property FILTER on dimension {g_dim.name!r} "
                    "cannot combine with GENERATE over the same "
                    "dimension (the exclusion would re-rank the "
                    "per-parent top-N); filter a different dimension "
                    "or drop the GENERATE")
        g_child = g_hier.levels[g_tgt_idx]
        gen_v = (g_dim, g_hier, g_level, g_child)
        hseg = [g_hier_name] if g_hier_name else []
        import dataclasses
        qm = dataclasses.replace(
            qm, drilldown=list(qm.drilldown)
            + [".".join([gsegs[0]] + hseg + [g_level.name]),
               ".".join([gsegs[0]] + hseg + [g_child.name])])
    measures = list(qm.measures)
    if not measures:
        measures = [cubes[0].default_measure.name]
    # inline WITH MEMBER on a virtual cube: arithmetic over measures of
    # ANY base cube, computed post-join (drill-across is exactly where
    # cross-cube ratios like Revenue/Total Price live).  PARALLELPERIOD
    # tuples stay base-cube-only.
    inline: dict[str, str] = {}
    inline_alias: dict[str, str] = {}
    rank_inline: dict[str, tuple] = {}
    setagg_inline: dict[str, tuple] = {}
    lag_inline: dict[str, tuple] = {}
    run_inline: dict[str, tuple] = {}
    for name, tmpl in qm.with_members:
        lg = re.fullmatch(r"\{lag:([^:}]+):([^:}]+):(\d+)\}", tmpl)
        if lg:
            # PARALLELPERIOD virtualizes (r11): the lag window runs
            # over the JOINED drill-across frame's time axis — which
            # under NON EMPTY enumerates the UNION of the base cubes'
            # members, exactly Mondrian's virtual-cube hierarchy (the
            # reference's own virtual cube time-navigates this way,
            # foodmart.xml:749-755 Profit Growth over PREVMEMBER)
            lag_inline[name] = lg.groups()
            alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
            if not alias:
                raise ParseError(f"WITH MEMBER name {name!r} is empty")
            inline_alias[name] = alias
            continue
        td = re.fullmatch(r"\{(ytd|qtd|mtd|wtd):([^}]+)\}", tmpl)
        if td:
            # SUM(YTD()/.../WTD(), m) virtualizes the same way: the
            # cumulative window anchors on the joined frame's time axis
            run_inline[name] = td.groups()
            alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
            if not alias:
                raise ParseError(f"WITH MEMBER name {name!r} is empty")
            inline_alias[name] = alias
            continue
        if tmpl.startswith("{setagg:"):
            # set aggregates (and measure-member tuples, which compile
            # to the single-member form) are fact-side: FORWARD the
            # calc to the base cube owning the referenced measure —
            # its sub-aggregate computes the conditional column and
            # the drill-across join carries it like any measure
            ref = re.fullmatch(r"\{setagg:[a-z]+:([^:]+):.+\}", tmpl,
                               re.DOTALL).group(1)
            owner = next((c for c in cubes if _has_measure(c, ref)), None)
            if owner is None:
                raise ParseError(
                    f"set aggregate {name!r} references unknown "
                    f"measure {ref!r}")
            setagg_inline[name] = (tmpl, owner.name)
            alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
            if not alias:
                raise ParseError(f"WITH MEMBER name {name!r} is empty")
            inline_alias[name] = alias
            continue
        rk = re.fullmatch(r"\{rank:([^:}]*):(asc|desc|pos):([^}]+)\}", tmpl)
        if rk:
            # RANK virtualizes naturally: the window runs over the
            # JOINED drill-across frame (the axis), partitioned by the
            # other conformed dims' keys — same shape as the base-cube
            # path, no fact access needed
            rank_inline[name] = rk.groups()
            alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
            if not alias:
                raise ParseError(f"WITH MEMBER name {name!r} is empty")
            inline_alias[name] = alias
            continue
        inline[name] = tmpl
        alias = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
        if not alias:
            raise ParseError(f"WITH MEMBER name {name!r} is empty")
        inline_alias[name] = alias
    base_requested = [m for m in measures
                      if m not in inline and m not in rank_inline
                      and m not in setagg_inline and m not in lag_inline
                      and m not in run_inline]
    # RANK order-by measures must be aggregated even when hidden
    for name, (ref, _, _) in rank_inline.items():
        if ref and ref not in inline and ref not in base_requested:
            if not any(_has_measure(c, ref) for c in cubes):
                raise ParseError(
                    f"RANK WITH MEMBER {name!r} references unknown "
                    f"measure {ref!r}")
            base_requested.append(ref)
    # lag / to-date source measures too (r11)
    for name, ref in ([(n, t[0]) for n, t in lag_inline.items()]
                      + [(n, t[1]) for n, t in run_inline.items()]):
        if ref not in inline and ref not in base_requested:
            if not any(_has_measure(c, ref) for c in cubes):
                raise ParseError(
                    f"WITH MEMBER {name!r} references unknown "
                    f"measure {ref!r}")
            base_requested.append(ref)
    # GENERATE / TOPPERCENT / TOPSUM / DRILLDOWNLEVELTOP ranking
    # measures too (r11): the post-join windows need the alias even
    # when not displayed
    for extra in ([qm.generate_top[2]] if qm.generate_top else []) + \
            [tp[1] for tp in (qm.top_percent, qm.top_sum)
             if tp is not None] + [g[2] for g in gs_top_v]:
        if extra and extra not in inline and extra not in base_requested:
            if not any(_has_measure(c, extra) for c in cubes):
                raise ParseError(
                    f"ranking measure {extra!r} does not exist in any "
                    f"base cube of virtual cube {vc.name!r}")
            base_requested.append(extra)
    unresolved = [m for m in base_requested
                  if not any(_has_measure(c, m) for c in cubes)]
    if unresolved:
        raise ParseError(
            f"measures {unresolved} do not exist in any base cube of "
            f"virtual cube {vc.name!r}")
    # base measures the inline formulas reference must be aggregated
    # even when not requested themselves (dropped from the final select)
    refs = {m.group(1) for tmpl in inline.values()
            for m in re.finditer(r"\{m:([^}]+)\}", tmpl)}
    for r in sorted(refs):
        if r in inline:
            raise ParseError(
                f"WITH MEMBER {r!r} cannot be referenced by another "
                "inline member on a virtual cube")
        if not any(_has_measure(c, r) for c in cubes):
            raise ParseError(
                f"WITH MEMBER references unknown measure {r!r}")
        if r not in base_requested:
            base_requested.append(r)
    # HAVING/ORDER may reference measures outside the display list
    # (mirrors _aggregate_cube's extra_names; Mondrian evaluates them
    # in query context) — aggregate them too; the final projection at
    # the bottom selects only the requested list
    for fs in qm.filter:
        try:
            mname = parse_measure_filter(fs).measure
        except ParseError:
            continue   # malformed filters error in the HAVING step
        if (mname not in inline and mname not in base_requested
                and any(_has_measure(c, mname) for c in cubes)):
            base_requested.append(mname)
    for tmpl in qm.filter_exprs:
        for ref in _tmpl_refs(tmpl):
            if (ref not in inline and ref not in base_requested
                    and any(_has_measure(c, ref) for c in cubes)):
                base_requested.append(ref)
    if (qm.order and "." not in qm.order and qm.order not in inline
            and qm.order not in base_requested
            and any(_has_measure(c, qm.order) for c in cubes)):
        base_requested.append(qm.order)
    for pname in qm.nonempty_measures:
        if (pname not in inline and pname not in base_requested
                and any(_has_measure(c, pname) for c in cubes)):
            base_requested.append(pname)
    measures = base_requested
    # cut member existence validates against the UNION member set
    # (r13): Mondrian resolves members on the VIRTUAL cube, whose
    # member set unions the base cubes' (_vc_union_src) — a member
    # present in any one cube passes (the other side shows empty
    # cells); absent-in-all 400s exactly like the base-cube path.
    # The per-cube subs below skip their own validation.
    for c in qm.cut:
        err = None
        for cube_i in cubes:
            try:
                rc_i = _resolve_cut(
                    cube_i, parse_cut(c, {s.name for s
                                          in cube_i.named_sets}))
                _validate_cut_members(spark, sf_dir, cube_i, rc_i)
                err = None
                break
            except ParseError as e:
                err = err or e
        if err is not None:
            raise err
    parts: list[tuple[DataFrame, list[str]]] = []
    group_cols: list[str] | None = None
    sub_sources: dict[str, str] = {}
    for cube in cubes:
        own_names = [m for m in measures if _has_measure(cube, m)]
        # forwarded set-aggregate calcs: inlined into THIS cube's
        # definition so its sub-aggregate computes the conditional
        # column fact-side, exactly like the base-cube path
        own_with = [(n, t) for n, (t, owner) in setagg_inline.items()
                    if owner == cube.name]
        if own_with:
            cube = _inline_calcs(cube, own_with)
            own_names = own_names + [n for n, _ in own_with]
        if not own_names:
            continue
        # order/limit/filter/sparse are axis-global: they must see the
        # joined drill-across frame, so only the aggregation-shaping
        # params are forwarded to the per-cube sub-queries and the rest
        # apply post-join below (ADVICE r1: forwarding them per-cube
        # would order/limit each part independently — wrong answer).
        sub = QueryModel(cube=cube.name, measures=own_names,
                         drilldown=list(qm.drilldown), cut=list(qm.cut),
                         vc_skip_cut_validation=True,
                         nonempty=True, parents=qm.parents,
                         properties=list(qm.properties),
                         caption=list(qm.caption),
                         empty_set=qm.empty_set,
                         empty_slicer=qm.empty_slicer,
                         gs_axes=list(getattr(qm, "gs_axes", []) or []),
                         # markers survive the drill-across join when
                         # the post-join stage needs to tell subtotal
                         # rows apart: the DDLTOP rank (r11) and the
                         # dense grouping-sets fill (r14)
                         gs_keep_markers=bool(gs_top_v) or (
                             bool(getattr(qm, "gs_axes", []) or [])
                             and not qm.nonempty and not qm.empty_set),
                         visual_totals=list(
                             getattr(qm, "visual_totals", []) or []),
                         # dim-side predicates virtualize by forwarding
                         # (r11, VERDICT r10 #1): conformed dims share
                         # tables/exprs, so each base cube pushes the
                         # identical member restriction to its scans
                         property_filters=list(qm.property_filters),
                         nav_filters=list(
                             getattr(qm, "nav_filters", []) or []))
        rt = (routers or {}).get(cube.name)
        if rt is not None and not own_with:
            # aggregate-table routing per base cube (r11): route() has
            # the full refusal rules (grain coverage, re-aggregability,
            # gs/idiom forms fall back to the identical base path), so
            # the routed frame is shape- and value-identical; inline
            # setagg subs bypass (the router only knows the schema
            # cube, not the per-query _inline_calcs copy)
            df, src = rt.route(sub)
            sub_sources[cube.name] = src
        else:
            df = _aggregate_cube(spark, sf_dir, cube, sub)
        # declared alias-conformed levels (r14, VERDICT r13 #6): this
        # cube aggregated at its OWN column (order_date); rename to
        # the first cube's alias (ship_date) so the drill-across join
        # lines the cells up — downstream resolution is all cubes[0]
        for old, new in _vc_alias_renames(vc, cube, cubes[0]).items():
            if old in df.columns and new not in df.columns:
                df = df.withColumnRenamed(old, new)
        maliases = [_measure_alias(cube, m) for m in own_names]
        gcols = [c for c in df.columns if c not in maliases]
        group_cols = gcols if group_cols is None else group_cols
        parts.append((df, maliases))
    out, all_aliases = parts[0][0], list(parts[0][1])
    for df, maliases in parts[1:]:
        missing = [c for c in (group_cols or []) if c not in df.columns]
        if missing:
            # a drilled level whose ALIASES differ across the base
            # cubes (e.g. Day = ship_date vs order_date) is not
            # conformed at that grain — a clear 400, not an
            # AnalysisException 500 from the join
            raise ParseError(
                f"drilldown level not conformed across the virtual "
                f"cube's base cubes: column(s) {missing} missing on "
                "one side (drill a level whose aliases match)")
        if getattr(qm, "gs_axes", None):
            # mixed-depth axes: subtotal rows carry NULL child keys,
            # which plain equi-join keys never match — align the two
            # cubes' grouping-sets rows NULL-SAFELY and coalesce the
            # key columns (r10; only taken when gs_axes is set so the
            # common path keeps its plan shape)
            cond = reduce(lambda a, b: a & b,
                          [out[c].eqNullSafe(df[c]) for c in group_cols])
            joined = out.join(df, cond, "full_outer")
            out = joined.select(
                *[F.coalesce(out[c], df[c]).alias(c)
                  for c in group_cols],
                *[out[a] for a in all_aliases],
                *[df[a] for a in maliases])
        else:
            out = out.join(df, on=group_cols, how="full_outer")
        all_aliases += maliases

    # --- DRILLDOWNLEVELTOP/BOTTOM on a virtual cube (r11): the
    # per-cube Expand passes kept their F.grouping() marker columns
    # (gs_keep_markers), which joined null-safely like any key — so
    # the post-join rank identifies subtotal rows by MARKER, never by
    # NULL member keys (the r10 ADVICE bug class).  Rank semantics
    # mirror the base path: per-parent window over the joined frame,
    # marginal measure when another axis dimension is drilled. ---
    gs_marker_cols = [c for c in (group_cols or [])
                      if c.startswith("__gs_subtotal_")]
    dense_v = (not qm.nonempty and not qm.empty_set
               and bool(qm.drilldown or getattr(qm, "gs_axes", [])))
    if dense_v and getattr(qm, "gs_axes", []):
        # dense grouping-sets axes on a virtual cube (r14, VERDICT r13
        # #1): the per-cube subs kept their F.grouping() markers
        # through the null-safe drill-across join, so the joined frame
        # IS the marker-sliced aggregate _densify_gs expects — densify
        # FIRST (mirroring the base path), then the DDLTOP rank below
        # ranks the DENSE children nulls-last per parent.
        (drills_d, cuts_d, cap_over, needed_props_d,
         prop_filter_preds_d) = _vc_dense_inputs(cubes[0], qm)
        ns_names0_g = {s.name for s in cubes[0].named_sets}
        ddl_axes_v: list[tuple] = []
        markers_v = [f"__gs_subtotal_{i}__"
                     for i in range(len(qm.gs_axes))]
        for ddl_spec, ddl_subset in qm.gs_axes:
            segs = ddl_spec.split(".")
            hier_name = segs[1] if len(segs) == 3 else None
            dimx, hierx, levelx = _resolve_level(
                cubes[0], segs[0], hier_name, segs[-1])
            childx = hierx.levels[hierx.level_index(levelx.name) + 1]
            drills_d.append(ResolvedDrill(dimx, hierx, childx,
                                          [levelx, childx]))
            subset_rc = None
            if ddl_subset is not None:
                subset_rc = _resolve_cut(
                    cubes[0], parse_cut(ddl_subset, ns_names0_g))
            ddl_axes_v.append((levelx, childx, subset_rc))
        out = _densify_gs(
            spark, sf_dir, cubes[0], drills_d, ddl_axes_v, markers_v,
            out, [c for c in group_cols if c not in gs_marker_cols],
            list(all_aliases),
            [rc for rc in cuts_d if rc.cut.kind != "named_set"],
            [rc for rc in cuts_d if rc.cut.kind == "named_set"],
            needed_props_d, cap_over,
            prop_filters=prop_filter_preds_d or None,
            existing_dims=getattr(qm, "existing_dims", None),
            keep_markers=True, vc_cubes=(vc, cubes))
    if gs_top_v:
        for spec, topn, mname, asc in gs_top_v:
            idx = next(i for i, (s, _) in enumerate(qm.gs_axes)
                       if s == spec)
            marker = f"__gs_subtotal_{idx}__"
            segs = spec.split(".")
            hier_name = segs[1] if len(segs) == 3 else None
            gcube = next(c for c in cubes
                         if any(d.name == segs[0] for d in c.dimensions))
            dimx, hierx, parent_lv = _resolve_level(
                gcube, segs[0], hier_name, segs[-1])
            child_lv = hierx.levels[hierx.level_index(parent_lv.name) + 1]
            ocol = None
            for c in cubes:
                try:
                    ocol = _measure_alias(c, mname)
                    break
                except KeyError:
                    continue
            if ocol is None:
                raise ParseError(
                    f"DRILLDOWNLEVELTOP/BOTTOM measure {mname!r} does "
                    f"not exist in any base cube of {vc.name!r}")
            parent_cols = [a for _, a in parent_lv.out_cols()]
            child_cols = {a for _, a in child_lv.out_cols()}
            others = [c for c in group_cols
                      if c not in child_cols and c not in parent_cols
                      and not c.startswith("__gs_subtotal_")]
            sel_cuts_g = set(getattr(qm, "vc_axis_sel_cuts", []) or [])
            if others and sel_cuts_g:
                # co-axis WITH SET / TOPCOUNT selection rewritten into
                # a member-set cut: the displayed marginal is
                # restricted by it, but Mondrian ranks DDLTOP in the
                # SLICER context (r12 — same argument as the GENERATE
                # window below and the base path's q101).  Rank by a
                # (parent, child)-grain sub-aggregate of the measure's
                # owning cube with the selection cuts excluded.
                owner = next((c for c in cubes
                              if _has_measure(c, mname)), None)
                if owner is None:
                    raise ParseError(
                        f"DRILLDOWNLEVELTOP/BOTTOM measure {mname!r} "
                        "must be a base measure when composed with a "
                        "TOPCOUNT axis (calculated members have no "
                        "pre-crossjoin rank basis)")
                child_spec = ".".join(segs[:-1] + [child_lv.name])
                qm_rank = QueryModel(
                    cube=owner.name, measures=[mname],
                    drilldown=[child_spec],
                    cut=[c for c in qm.cut if c not in sel_cuts_g],
                    vc_skip_cut_validation=True,
                    nonempty=True, parents=True)
                rank_src = _aggregate_cube(spark, sf_dir, owner,
                                           qm_rank)
                for _o, _n in _vc_alias_renames(vc, owner,
                                                gcube).items():
                    if _o in rank_src.columns \
                            and _n not in rank_src.columns:
                        rank_src = rank_src.withColumnRenamed(_o, _n)
                rank_src = rank_src.select(
                    F.col(parent_lv.key_alias).alias("__rbp__"),
                    F.col(child_lv.key_alias).alias("__rbc__"),
                    F.col(ocol).alias("__gs_marg__"))
                out = (out.join(
                    rank_src,
                    (F.col(parent_lv.key_alias) == F.col("__rbp__"))
                    & (F.col(child_lv.key_alias) == F.col("__rbc__")),
                    "left").drop("__rbp__", "__rbc__"))
                rcol, rank_fn = "__gs_marg__", F.dense_rank()
            elif others:
                m_obj = next((m for c in cubes for m in c.measures
                              if m.name == mname), None)
                if m_obj is None or m_obj.agg not in ("sum", "count"):
                    raise ParseError(
                        f"DRILLDOWNLEVELTOP/BOTTOM measure {mname!r} "
                        "is not additive (sum/count); its per-parent "
                        "marginal over the other axis is not the sum "
                        "of cells — drop the other axis or rank by "
                        "an additive measure")
                out = out.withColumn("__gs_marg__", F.sum(
                    F.col(ocol)).over(Window.partitionBy(
                        marker, *parent_cols, child_lv.key_alias)))
                rcol, rank_fn = "__gs_marg__", F.dense_rank()
            else:
                rcol, rank_fn = ocol, F.row_number()
            w = (Window.partitionBy(marker, *parent_cols)
                 .orderBy(F.asc_nulls_last(rcol) if asc
                          else F.desc_nulls_last(rcol),
                          F.asc(child_lv.key_alias)))
            out = (out.withColumn("__gs_rn__", rank_fn.over(w))
                      .filter((F.col(marker) == 1)
                              | (F.col("__gs_rn__") <= topn))
                      .drop("__gs_rn__", "__gs_marg__"))
    if gs_marker_cols:
        out = out.drop(*gs_marker_cols)
        group_cols = [c for c in group_cols if c not in gs_marker_cols]

    # --- dense axes (r10): the reference DEFAULT applies to virtual
    # cubes too — previously a nonempty=false request silently behaved
    # as NON EMPTY on the drill-across path.  Member frames resolve
    # against the FIRST base cube (dims are conformed by contract);
    # WHERE cuts constrain facts and leave the axes full, exactly the
    # base-cube dense semantics.  Runs BEFORE the inline calcs so
    # formula columns compute (to null) on the filled tuples too. ---
    if dense_v and not getattr(qm, "gs_axes", []):
        (drills_d, cuts_d, cap_over, needed_props_d,
         prop_filter_preds_d) = _vc_dense_inputs(cubes[0], qm,
                                                 gen_v=gen_v)
        out = _densify(
            spark, sf_dir, cubes[0], drills_d,
            [rc for rc in cuts_d if rc.cut.kind != "named_set"],
            [rc for rc in cuts_d if rc.cut.kind == "named_set"],
            needed_props_d,
            cap_over, out, group_cols, list(all_aliases),
            prop_filters=prop_filter_preds_d or None,
            existing_dims=getattr(qm, "existing_dims", None),
            vc_cubes=(vc, cubes))

    def _valias(name: str) -> str:
        if name in inline_alias:
            return inline_alias[name]
        for cube in cubes:
            try:
                return _measure_alias(cube, name)
            except KeyError:
                continue
        raise ParseError(f"cannot resolve measure {name!r} in {vc.name!r}")

    # axis (group) columns count as taken too: withColumn would
    # silently overwrite a drilled column (same guard as _aggregate_cube)
    taken = ({a for _, maliases in parts for a in maliases}
             | set(group_cols or []))
    for name, tmpl in inline.items():
        if inline_alias[name] in taken:
            raise ParseError(
                f"WITH MEMBER name {name!r} collides with an existing "
                "measure or axis column")
        taken.add(inline_alias[name])
        expr = re.sub(r"\{m:([^}]+)\}",
                      lambda m: _valias(m.group(1)), tmpl)
        out = _with_user_col(out, inline_alias[name], expr, name)

    # RANK WITH MEMBER on the joined drill-across frame: resolve the
    # ranked level against a base cube exposing the (conformed) dim,
    # require it drilled, and window exactly like the base-cube path
    for name, (ref, direction, lvl_path) in rank_inline.items():
        alias = inline_alias[name]
        if alias in taken:
            raise ParseError(
                f"WITH MEMBER name {name!r} collides with an existing "
                "measure or axis column")
        taken.add(alias)
        segs = lvl_path.split(".")
        if segs[0] not in vc.conformed_dimensions:
            raise ParseError(
                f"RANK dimension {segs[0]!r} is not conformed on "
                f"virtual cube {vc.name!r}")
        hier_name = segs[1] if len(segs) == 3 else None
        rcube = next(c for c in cubes
                     if any(d.name == segs[0] for d in c.dimensions))
        dim, _, level = _resolve_level(rcube, segs[0], hier_name, segs[-1])
        for ref_str, _, _ in qm.property_filters:
            if parse_property(ref_str).dimension.lower() \
                    == dim.name.lower():
                raise ParseError(
                    f"a property FILTER on dimension {dim.name!r} "
                    f"cannot combine with RANK member {name!r} over "
                    "the same dimension (Mondrian ranks the "
                    "UNFILTERED member set)")
        drills_r = []
        for d in qm.drilldown:
            parsed = parse_drilldown(d)
            if isinstance(parsed, DrilldownSpec):
                drills_r.append(_resolve_drill(rcube, parsed, qm.parents))
        rank_drills = [rd for rd in drills_r
                       if rd.dimension.name == dim.name]
        if not any(lv.name == level.name for rd in rank_drills
                   for lv in rd.group_levels):
            raise ParseError(
                f"calculated member {name!r} ranks the {dim.name} "
                f"{level.name!r} level; drill that level first")
        same_keys = [a for rd in rank_drills for a in
                     [lv.key_alias for lv in rd.group_levels]]
        level_keys = {lv.key_alias for rd in rank_drills
                      for lv in rd.group_levels if lv.name == level.name}
        if dim.is_degenerate and len(set(same_keys)) > len(level_keys):
            raise ParseError(
                f"calculated member {name!r}: RANK on degenerate "
                f"dimension {dim.name!r} with ancestor levels drilled "
                "is ambiguous (level keys repeat per parent); drill "
                "only the ranked level")
        others = [lv.key_alias for rd in drills_r
                  if rd.dimension.name != dim.name
                  for lv in rd.group_levels]
        if ref:
            ocol = _valias(ref)
            dir_col = (F.asc_nulls_last(ocol) if direction == "asc"
                       else F.desc_nulls_last(ocol))
            w = Window.partitionBy(
                *[F.col(a) for a in others]).orderBy(dir_col)
            out = out.withColumn(alias, F.rank().over(w).cast("long"))
        else:
            w = Window.partitionBy(*[F.col(a) for a in others]).orderBy(
                *[F.asc(a) for a in same_keys])
            out = out.withColumn(alias,
                                 F.row_number().over(w).cast("long"))

    # --- PARALLELPERIOD / to-date WITH MEMBER windows on the joined
    # drill-across frame (r11): the time axis under NON EMPTY is the
    # UNION of the base cubes' member sets (Mondrian's virtual-cube
    # hierarchy — the reference's own virtual-cube calc members
    # time-navigate, foodmart.xml:749-755), so the same axis-sized
    # windows the base path runs apply verbatim post-join ---
    if lag_inline or run_inline:
        drills_t = []
        for d in qm.drilldown:
            parsed = parse_drilldown(d)
            if isinstance(parsed, DrilldownSpec):
                drills_t.append(_resolve_drill(cubes[0], parsed,
                                               qm.parents))
    for name, (ref, lvl_path, lag_n) in lag_inline.items():
        alias = inline_alias[name]
        if alias in taken:
            raise ParseError(
                f"WITH MEMBER name {name!r} collides with an existing "
                "measure or axis column")
        taken.add(alias)
        segs = lvl_path.split(".")
        if segs[0] not in vc.conformed_dimensions:
            raise ParseError(
                f"PARALLELPERIOD dimension {segs[0]!r} is not "
                f"conformed on virtual cube {vc.name!r}")
        lag_level = segs[-1] if len(segs) > 1 else None
        lag_drills = [rd for rd in drills_t
                      if rd.dimension.name == segs[0]]
        time_keys = [a for rd in lag_drills for a in rd.key_aliases]
        if not time_keys:
            raise ParseError(
                f"calculated member {name!r} needs a {segs[0]} "
                "drilldown")
        if lag_level is not None and not any(
                rd.level.name.lower() == lag_level.lower()
                for rd in lag_drills):
            raise ParseError(
                f"calculated member {name!r} shifts at level "
                f"{lag_level!r}; drill {segs[0]} at that level "
                "(a different grain would change the shift meaning)")
        others = [a for rd in drills_t
                  if rd.dimension.name != segs[0]
                  for a in rd.key_aliases]
        w = Window.partitionBy(*[F.col(a) for a in others]).orderBy(
            *[F.col(a) for a in time_keys])
        out = out.withColumn(alias,
                             F.lag(F.col(_valias(ref)),
                                   int(lag_n)).over(w))
    for name, (kind, ref) in run_inline.items():
        alias = inline_alias[name]
        if alias in taken:
            raise ParseError(
                f"WITH MEMBER name {name!r} collides with an existing "
                "measure or axis column")
        taken.add(alias)
        tdims = [d for d in cubes[0].dimensions
                 if d.time_dimension and d.name in vc.conformed_dimensions]
        if not tdims:
            raise ParseError(
                f"WITH MEMBER {name!r}: SUM({kind.upper()}(), ...) "
                f"needs a conformed time dimension on virtual cube "
                f"{vc.name!r}")
        run_dim = tdims[0].name
        anchor = {"ytd": None, "qtd": "Quarter", "mtd": "Month",
                  "wtd": "Week"}[kind]
        run_drills = [rd for rd in drills_t
                      if rd.dimension.name == run_dim]
        if not run_drills:
            raise ParseError(
                f"calculated member {name!r} needs a {run_dim} "
                "drilldown")
        hier = run_drills[0].hierarchy
        if anchor is None:
            anchor_idx = 0
        else:
            try:
                anchor_idx = hier.level_index(anchor)
            except (KeyError, ValueError):
                raise ParseError(
                    f"calculated member {name!r}: hierarchy "
                    f"{hier.name!r} has no {anchor!r} level")
        seen_keys: dict = {}
        for rd in run_drills:
            for lv in rd.group_levels:
                seen_keys.setdefault(
                    lv.key_alias, rd.hierarchy.level_index(lv.name))
        keyed = sorted((i, a) for a, i in seen_keys.items())
        have = {i for i, _ in keyed}
        missing = [hier.levels[i].name for i in range(anchor_idx + 1)
                   if i not in have]
        if missing:
            raise ParseError(
                f"calculated member {name!r} needs the "
                f"{'/'.join(missing)} level(s) of {run_dim} in the "
                "drilldown (the to-date window anchors there)")
        part = [a for i, a in keyed if i <= anchor_idx]
        finer = [a for i, a in keyed if i > anchor_idx]
        others = [a for rd in drills_t if rd.dimension.name != run_dim
                  for a in rd.key_aliases]
        if not finer:
            out = out.withColumn(alias, F.col(_valias(ref)))
        else:
            w = (Window
                 .partitionBy(*[F.col(a) for a in others + part])
                 .orderBy(*[F.col(a) for a in finer])
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
            out = out.withColumn(alias,
                                 F.sum(F.col(_valias(ref))).over(w))

    # --- GENERATE per-parent top-N window (r11): runs on the JOINED
    # --- drill-across frame, partitioned by the parent level plus any
    # --- other dimensions' keys — applied BEFORE the HAVING stage so
    # --- FILTER(GENERATE(...), cond) filters the generated set, same
    # --- as the base-cube path ---
    if gen_v is not None:
        g_dim, g_hier, g_level, g_child = gen_v
        _, g_n, g_m, g_asc = qm.generate_top
        g_ocol = _valias(g_m) if g_m is not None else g_child.key_alias
        child_keys = {a for _, a in g_child.out_cols()}
        own_keys: list = []
        other_keys: list = []
        ns_names_g = {s.name for s in cubes[0].named_sets}
        for d in qm.drilldown:
            parsed = parse_drilldown(d, ns_names_g)
            if isinstance(parsed, str):
                ns = cubes[0].named_set(parsed)
                dimx, hierx, levelx = _resolve_level(
                    cubes[0], ns.dimension, None, ns.level)
                gl, dname = [levelx], dimx.name
            else:
                rdx = _resolve_drill(cubes[0], parsed, qm.parents)
                gl, dname = rdx.group_levels, rdx.dimension.name
            dest = own_keys if dname == g_dim.name else other_keys
            dest += [lv.key_alias for lv in gl
                     if lv.key_alias not in dest]
        part = [a for a in own_keys if a not in child_keys]
        marginal = bool(other_keys)
        sel_cuts = set(getattr(qm, "vc_axis_sel_cuts", []) or [])
        if g_m is not None and sel_cuts:
            # a co-axis WITH SET / TOPCOUNT selection was rewritten
            # into a member-set cut — the displayed cells (and thus
            # the marginal) are restricted by it, but Mondrian
            # evaluates GENERATE's set in the SLICER context (r12, the
            # q103 argument on the drill-across path).  Rank by a
            # separate (parent, child)-grain sub-aggregate of the
            # ranking measure's OWNING cube with the axis-selection
            # cuts excluded: an exact pre-crossjoin cell, valid for
            # ANY base aggregator (the measure's own agg runs at the
            # rank grain).
            owner = next((c for c in cubes if _has_measure(c, g_m)),
                         None)
            if owner is None:
                raise ParseError(
                    f"GENERATE ranking measure {g_m!r} must be a base "
                    "measure when composed with a TOPCOUNT axis on a "
                    "virtual cube (calculated members have no "
                    "pre-crossjoin rank basis)")
            gsegs = qm.generate_top[0].split(".")
            child_spec = ".".join(gsegs[:-1] + [g_child.name])
            qm_rank = QueryModel(
                cube=owner.name, measures=[g_m],
                drilldown=[child_spec],
                cut=[c for c in qm.cut if c not in sel_cuts],
                vc_skip_cut_validation=True,
                nonempty=True, parents=True)
            rank_src = _aggregate_cube(spark, sf_dir, owner, qm_rank)
            for _o, _n in _vc_alias_renames(vc, owner,
                                            cubes[0]).items():
                if _o in rank_src.columns \
                        and _n not in rank_src.columns:
                    rank_src = rank_src.withColumnRenamed(_o, _n)
            rank_src = rank_src.select(
                *[F.col(a).alias(f"__rb{i}__")
                  for i, a in enumerate(own_keys)],
                F.col(_valias(g_m)).alias("__gen_m"))
            cond = reduce(
                lambda a, b: a & b,
                [F.col(k) == F.col(f"__rb{i}__")
                 for i, k in enumerate(own_keys)])
            out = (out.join(rank_src, cond, "left")
                      .drop(*[f"__rb{i}__"
                              for i in range(len(own_keys))]))
            g_ocol = "__gen_m"
            marginal = True      # dense_rank below; basis is exact
        elif marginal and g_m is not None:
            # Mondrian evaluates GENERATE's TOPCOUNT pre-crossjoin:
            # with other dimensions drilled, rank by the per-(parent,
            # child) MARGINAL — the sum of this pair's cells across
            # the other dims' keys — which equals the pre-crossjoin
            # value only for additive measures (sum/count).  Same
            # argument and same 400 as the base-cube path's gen_axes
            # marginal above; inline WITH MEMBER rank measures have no
            # additivity certificate, so they 400 here too.
            m_obj = None
            for cx in cubes:
                m_obj = next((m for m in cx.measures if m.name == g_m),
                             None)
                if m_obj is not None:
                    break
            if m_obj is None or m_obj.agg not in ("sum", "count"):
                raise ParseError(
                    f"GENERATE ranking measure {g_m!r} is not additive "
                    "(sum/count); its per-parent marginal over the "
                    "other axis dimensions is not the sum of cells — "
                    "query GENERATE as the sole axis set or rank by "
                    "an additive measure")
            out = out.withColumn(
                "__gen_m", F.sum(F.col(g_ocol)).over(
                    Window.partitionBy(*[F.col(a) for a in own_keys])))
            g_ocol = "__gen_m"
        g_dir = (F.asc_nulls_last(g_ocol) if g_asc
                 else F.desc_nulls_last(g_ocol))
        w = (Window.partitionBy(*[F.col(a) for a in part])
             .orderBy(g_dir, F.asc(g_child.key_alias)))
        rank_fn = F.dense_rank() if marginal else F.row_number()
        out = (out.withColumn("__gen_rn", rank_fn.over(w))
                  .filter(F.col("__gen_rn") <= g_n)
                  .drop("__gen_rn", "__gen_m"))

    for fs in qm.filter:
        mf = parse_measure_filter(fs)
        out = out.filter(F.expr(f"{_valias(mf.measure)} {mf.op} {mf.value!r}"))
    for tmpl in qm.filter_exprs:
        expr = _TMPL_REF_RE.sub(lambda m: _valias(m.group(1)), tmpl)
        try:
            out = out.filter(F.expr(expr))
        except ParseError:
            raise
        except Exception as e:
            raise ParseError(
                f"invalid FILTER condition {expr!r}: {e}") from e
    for pname in getattr(qm, "nonempty_measures", []):
        out = out.filter(F.col(_valias(pname)).isNotNull())
    if qm.sparse:
        out = out.na.drop(how="all", subset=all_aliases)
    if qm.distinct and group_cols:
        out = out.dropDuplicates(group_cols)
    # tie-break on drill key aliases only, exactly like _aggregate_cube:
    # a query must order identically against a base or a virtual cube
    key_aliases = []
    ns_names0 = {s.name for s in cubes[0].named_sets}
    for d in qm.drilldown:
        parsed = parse_drilldown(d, ns_names0)
        if isinstance(parsed, str):
            ns = cubes[0].named_set(parsed)
            _, hier, level = _resolve_level(cubes[0], ns.dimension, None, ns.level)
            idx = hier.level_index(level.name)
            gl = list(hier.levels[: idx + 1]) if qm.parents else [level]
        else:
            gl = _resolve_drill(cubes[0], parsed, qm.parents).group_levels
        key_aliases += [lv.key_alias for lv in gl]
    # --- TOPPERCENT/TOPSUM on the joined drill-across frame (r11):
    # --- same cumulative-prefix windows as the base-cube path, over
    # --- the axis-sized post-join result ---
    tp_sort = None
    if qm.top_percent is not None or qm.top_sum is not None:
        if qm.top_percent is not None:
            pct, pname, asc = qm.top_percent
        else:
            val, pname, asc = qm.top_sum
        ocol = _valias(pname)
        direction = F.asc(ocol) if asc else F.desc(ocol)
        wseq = (Window.orderBy(direction,
                               *[F.asc(a) for a in key_aliases])
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))
        out = out.withColumn("__tp_run", F.sum(F.col(ocol)).over(wseq))
        if qm.top_percent is not None:
            total = F.sum(F.col(ocol)).over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding,
                    Window.unboundedFollowing))
            out = out.withColumn("__tp_tot", total)
            threshold = F.lit(pct / 100.0) * F.col("__tp_tot")
        else:
            threshold = F.lit(val)
        out = (out.filter(F.col("__tp_run") - F.col(ocol) < threshold)
                  .drop("__tp_run", "__tp_tot"))
        if not qm.order:
            tp_sort = (ocol, direction)
    if qm.order:
        try:
            ocol = _valias(qm.order)
        except ParseError:
            if qm.order not in group_cols:
                raise ParseError(f"cannot resolve order key {qm.order!r}")
            ocol = qm.order
        primary = F.desc(ocol) if qm.order_desc else F.asc(ocol)
        out = out.orderBy(primary,
                          *[F.asc(a) for a in key_aliases if a != ocol])
    elif tp_sort is not None:
        ocol, direction = tp_sort
        out = out.orderBy(direction,
                          *[F.asc(a) for a in key_aliases if a != ocol])
    elif key_aliases:
        out = out.orderBy(*[F.asc(a) for a in key_aliases])
    if qm.offset is not None and qm.offset < 0:
        raise ParseError(f"offset must be >= 0, got {qm.offset}")
    if qm.limit is not None and qm.limit < 0:
        # reference Grape-coerced Integer params reject negatives with
        # a 400; without this a negative limit reaches DataFrame.limit
        # and surfaces as an AnalysisException 500 (r12 REST fuzz)
        raise ParseError(f"limit must be >= 0, got {qm.limit}")
    if qm.offset:
        out = out.offset(qm.offset)
    if qm.limit is not None:
        out = out.limit(qm.limit)
    if qm.tail is not None:
        # TAIL(set, n) on the virtual axis (r11): invert the total
        # order, limit, re-sort forward — same composition as the
        # base-cube path (after offset/limit)
        if qm.order:
            rev = [F.asc(ocol) if qm.order_desc else F.desc(ocol)]
            rev += [F.desc(a) for a in key_aliases if a != ocol]
            fwd = [primary, *[F.asc(a) for a in key_aliases
                              if a != ocol]]
        elif tp_sort is not None:
            ocol, direction = tp_sort
            asc_tp = (qm.top_percent or qm.top_sum)[2]
            rev = [F.desc(ocol) if asc_tp else F.asc(ocol)]
            rev += [F.desc(a) for a in key_aliases if a != ocol]
            fwd = [direction, *[F.asc(a) for a in key_aliases
                                if a != ocol]]
        else:
            rev = [F.desc(a) for a in key_aliases]
            fwd = [F.asc(a) for a in key_aliases]
        if rev:
            out = out.orderBy(*rev).limit(qm.tail).orderBy(*fwd)
        else:
            out = out.limit(qm.tail)
    if getattr(qm, "hierarchize", False) and key_aliases:
        # HIERARCHIZE over a ranked set on a VIRTUAL cube (r10 — was
        # silently ignored): the rank picked the tuples above; display
        # order reverts to hierarchical, same axis-sized re-sort as
        # the base-cube path
        out = out.orderBy(*[F.asc(a) for a in key_aliases])
    requested = list(qm.measures) or [cubes[0].default_measure.name]
    final = out.select(*group_cols, *[_valias(m) for m in requested])
    if sub_sources:
        # routing provenance for the API's debug envelope (r11)
        final._mrs_virtual_sources = sub_sources
    return final


def _has_measure(cube: Cube, name: str) -> bool:
    try:
        _measure_alias(cube, name)
        return True
    except KeyError:
        return False
