"""Metadata surface: cubes, dimensions, levels, members (SURVEY §2.9,
reference api.rb:72-235 + mondrian_ext.rb serialization).

Member enumeration is a distinct-select over the denormalized dimension
frame — the Spark analog of Mondrian's SELECT DISTINCT over the dim
table (reference mondrian_ext.rb:125-146); ancestors come from the same
denormalized row (no recursive walk needed).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, Cube
from .planner import (ResolvedDrill, _resolve_level, held_rows,
                      members_frame)

#: member-listing collect ceiling (analog of planner.MAX_DENSE_CELLS):
#: a metadata endpoint must never OOM the driver enumerating a
#: fact-scale level
MAX_MEMBER_LIST = 500_000


def cube_names(cat: Catalog) -> list[str]:
    """GET /cubes (reference api.rb:72-80)."""
    return [c.name for c in cat.cubes] + [v.name for v in cat.virtual_cubes]


def cube_metadata(cat: Catalog, cube_name: str) -> dict:
    """GET /cubes/:name (reference api.rb:82-91; mondrian_ext.rb:35-82).

    Virtual cubes are first-class here, as in the reference schema
    (foodmart.xml:758-790 'Warehouse and Sales' appears in /cubes like
    any other cube, api_spec.rb:23-35): their metadata is synthesized
    from the base cubes — conformed dimensions (first definition wins)
    and the union of both cubes' measures."""
    v = cat.virtual_cube(cube_name)
    if v is not None:
        base_metas = [cube_metadata(cat, n) for n in v.cube_names]
        dims, seen = [], set()
        for bm in base_metas:
            for d in bm["dimensions"]:
                if d["name"] in v.conformed_dimensions and d["name"] not in seen:
                    seen.add(d["name"])  # conformed: first definition wins
                    dims.append(d)
        return {
            "name": v.name,
            "type": "virtual",
            "cubes": list(v.cube_names),
            "fact": None,
            "dimensions": dims,
            "measures": [m for bm in base_metas for m in bm["measures"]],
            "calculated_members": [c for bm in base_metas
                                   for c in bm["calculated_members"]],
            "named_sets": [],
        }
    cube = cat.cube(cube_name)
    return {
        "name": cube.name,
        "type": "cube",
        "fact": cube.fact,
        "annotations": dict(cube.annotations),
        "dimensions": [
            {
                "name": d.name,
                "caption": d.name,
                "type": "time" if d.time_dimension else "standard",
                "annotations": dict(d.annotations),
                "hierarchies": [
                    {
                        "name": h.name,
                        "has_all": h.has_all,
                        "all_member_name": h.all_member_name,
                        "levels": [
                            {
                                "name": lv.name,
                                "key": lv.key_alias,
                                "caption": lv.caption_alias or lv.key_alias,
                                "full_name": f"[{d.name}].[{h.name}].[{lv.name}]",
                                "annotations": dict(lv.annotations),
                                "properties": [p.name for p in lv.properties],
                            }
                            for lv in h.levels
                        ],
                    }
                    for h in d.hierarchies
                ],
            }
            for d in cube.dimensions
        ],
        # reference measure hash (mondrian_ext.rb:66-81): name/caption/
        # annotations/full_name/aggregator (+our stable column alias)
        "measures": [
            {"name": m.name, "caption": m.name,
             "annotations": dict(m.annotations),
             "full_name": f"[Measures].[{m.name}]", "alias": m.alias,
             "format_string": m.format_string,
             "aggregator": m.agg.upper().replace("COUNT_DISTINCT", "DISTINCT_COUNT")}
            for m in cube.measures
        ],
        "calculated_members": [c.name for c in cube.calc_members],
        # reference named-set hash (mondrian_ext.rb:36-57)
        "named_sets": [
            {"name": s.name, "dimension": s.dimension,
             "hierarchy": cube.dimension(s.dimension).default_hierarchy().name,
             "level": s.level, "annotations": dict(s.annotations)}
            for s in cube.named_sets
        ],
    }


def resolve_cube(cat: Catalog, cube_name: str, dim_name: str | None = None) -> Cube:
    """Cube for member/dimension metadata resolution.  Virtual cubes
    delegate to the first base cube carrying the dimension (conformed
    by contract), restricted to the conformed set — so the members
    surface works for virtual cube names exactly like /aggregate."""
    v = cat.virtual_cube(cube_name)
    if v is None:
        return cat.cube(cube_name)
    if dim_name is not None and not any(
            d.lower() == dim_name.lower() for d in v.conformed_dimensions):
        raise KeyError(
            f"dimension {dim_name!r} not conformed in virtual cube {cube_name!r}")
    for n in v.cube_names:
        c = cat.cube(n)
        if dim_name is None:
            return c
        try:
            c.dimension(dim_name)
            return c
        except KeyError:
            continue
    raise KeyError(f"dimension {dim_name!r} not in virtual cube {cube_name!r}")


def _members_source(spark: SparkSession, sf_dir: str, cat: Catalog,
                    cube_name: str, cube: Cube, rd: ResolvedDrill,
                    prop_objs: list | None = None) -> DataFrame:
    """members_frame, except a DEGENERATE dim on a VIRTUAL cube unions
    every owner cube's fact-projected members (r14) — Mondrian's
    virtual hierarchy is the UNION of the base cubes' member sets, so
    a year present only in Orders must list on 'Orders and Sales'
    (the aggregate path has used the union since r11; the members
    surface listed the first cube only).  Table-backed dims are
    physically shared (one select IS the union) and property requests
    are dim-table-only, so both keep the single-cube path; levels with
    distinct captions below the listed one fall back too (the union
    source carries one caption level)."""
    v = cat.virtual_cube(cube_name)
    if (v is not None and rd.dimension.is_degenerate and not prop_objs
            and not any(lv.caption and lv.caption_alias
                        and lv.caption_alias != lv.key_alias
                        for lv in rd.group_levels[:-1])):
        from .planner import _vc_union_src
        cubes = [cat.cube(n) for n in v.cube_names]
        lv = rd.level
        cap_lv = (lv.name if (lv.caption and lv.caption_alias
                              and lv.caption_alias != lv.key_alias)
                  else None)
        return _vc_union_src(spark, sf_dir, cubes, v.name,
                             rd.dimension.name, rd.hierarchy.name,
                             [x.name for x in rd.group_levels],
                             cap_lv, vc=v)
    return members_frame(spark, sf_dir, cube, rd, prop_objs or [])


def _drill_for(cube: Cube, dim_name: str, level_name: str | None,
               hierarchy: str | None = None, with_ancestors: bool = False) -> ResolvedDrill:
    dim, hier, level = _resolve_level(cube, dim_name, hierarchy, level_name)
    idx = hier.level_index(level.name)
    levels = list(hier.levels[: idx + 1]) if with_ancestors else [level]
    return ResolvedDrill(dim, hier, level, levels)


def _ragged_visible(df: DataFrame, rd: ResolvedDrill) -> DataFrame:
    """Drop members a ragged hierarchy hides (reference
    foodmart.xml:565-603: hideMemberIf= on Sales Ragged levels).  The
    frame must already carry the parent level's columns when the rule is
    if_parents_name (ensured by the callers)."""
    lv = rd.level
    cap = F.col(lv.caption_alias or lv.key_alias)
    if lv.hide_member_if == "if_blank_name":
        return df.filter(cap.isNotNull() & (F.trim(cap) != ""))
    if lv.hide_member_if == "if_parents_name":
        idx = rd.hierarchy.level_index(lv.name)
        if idx == 0:
            return df
        parent = rd.hierarchy.levels[idx - 1]
        pcap = F.col(parent.caption_alias or parent.key_alias)
        return df.filter(cap.isNull() | pcap.isNull() | (cap != pcap))
    return df


def level_members(spark: SparkSession, sf_dir: str, cat: Catalog, cube_name: str,
                  dim_name: str, level_name: str | None = None,
                  hierarchy: str | None = None,
                  with_ancestors: bool = False) -> DataFrame:
    """GET .../levels/:l/members (reference api.rb:174-205) — distinct
    member tuples, deduped by key (mondrian_ext.rb:139); ragged levels
    (hideMemberIf) have their hidden members filtered out."""
    cube = resolve_cube(cat, cube_name, dim_name)
    rd = _drill_for(cube, dim_name, level_name, hierarchy, with_ancestors)
    need_parent = (rd.level.hide_member_if == "if_parents_name"
                   and not with_ancestors)
    if need_parent:
        rd = _drill_for(cube, dim_name, level_name, hierarchy, True)
    out = _ragged_visible(
        _members_source(spark, sf_dir, cat, cube_name, cube, rd),
        rd).dropDuplicates(
        [lv.key_alias for lv in rd.group_levels])
    if need_parent:
        return out.select(*[a for _, a in rd.level.out_cols()])
    return out


def member_children(spark: SparkSession, sf_dir: str, cat: Catalog, cube_name: str,
                    dim_name: str, parent_level: str, parent_key,
                    hierarchy: str | None = None) -> DataFrame:
    """children=true (reference mondrian_ext.rb:178; api_spec.rb:80-85):
    distinct members of the next level below, under the given parent."""
    cube = resolve_cube(cat, cube_name, dim_name)
    dim, hier, plevel = _resolve_level(cube, dim_name, hierarchy, parent_level)
    if dim.parent_child is not None:
        # parent-child children = the direct edges (reference HR cube:
        # an employee's children are their direct reports)
        from .planner import pc_member_frame
        mf = pc_member_frame(spark, sf_dir, dim).filter(
            F.col("parent_id") == F.lit(str(parent_key)))
        lv = plevel
        cols = [F.expr(lv.key).alias(lv.key_alias)]
        if lv.caption and lv.caption_alias and lv.caption_alias != lv.key_alias:
            cols.append(F.expr(lv.caption).alias(lv.caption_alias))
        return mf.select(*cols)
    pidx = hier.level_index(plevel.name)
    if pidx + 1 >= len(hier.levels):
        raise KeyError(f"level {parent_level!r} has no child level")
    child = hier.levels[pidx + 1]
    rd = ResolvedDrill(dim, hier, child, [plevel, child])
    mf = _ragged_visible(
        _members_source(spark, sf_dir, cat, cube_name, cube, rd), rd)
    out = mf.filter(F.col(plevel.key_alias) == F.lit(parent_key))
    child_cols = [a for _, a in child.out_cols()]
    return out.select(*child_cols).dropDuplicates([child.key_alias])


# --------------------------------------------------------------------------
# reference-shaped member hashes (mondrian_ext.rb:168-217)
# --------------------------------------------------------------------------

def _full_name(dim_name: str, names: list[str]) -> str:
    """Reference member full_name: '[Dim].[name1].[name2]' — the member
    *names* along the path, not keys (api_spec.rb:104-108 golden)."""
    return ".".join(f"[{s}]" for s in [dim_name] + names)


def _all_member_full_name(dim, hier) -> str:
    return f"[{dim.name}].[{hier.all_member_name or 'All ' + dim.name + 's'}]"


def _distinct_sorted(mf: DataFrame, keys: list[str], order: list[str],
                     level_name: str | None = None) -> list:
    """One row per ``keys`` tuple of a member frame, ordered by
    ``order`` (ascending, nulls first, like Spark's orderBy).  A held
    member set (planner.held_members) is deduplicated and sorted on the
    driver with no Spark job; any other frame runs dropDuplicates +
    orderBy.  With ``level_name`` the listing is refused past
    MAX_MEMBER_LIST: member listings collect to the driver (reference
    behavior), so absurd cardinalities get a clear 400 instead of a
    driver OOM — same philosophy as planner.MAX_DENSE_CELLS."""
    rows = held_rows(mf)
    if rows is not None:
        rows.sort(key=lambda r: [(r[c] is not None, r[c]) for c in order])
        firsts: dict = {}
        for r in rows:
            firsts.setdefault(tuple(r[c] for c in keys), r)
        rows = list(firsts.values())
        n = len(rows)
    else:
        dedup = mf.dropDuplicates(keys)
        n = dedup.count() if level_name is not None else 0
    if level_name is not None and n > MAX_MEMBER_LIST:
        from .parser import ParseError
        raise ParseError(
            f"level {level_name!r} has {n:,} members "
            f"(> {MAX_MEMBER_LIST:,}); use cuts/aggregate queries "
            "instead of enumerating it")
    return rows if rows is not None else dedup.orderBy(*order).collect()


def member_payloads(spark: SparkSession, sf_dir: str, cat: Catalog,
                    cube_name: str, dim_name: str, level_name: str | None = None,
                    hierarchy: str | None = None,
                    member_properties: list[str] | None = None,
                    caption: str | None = None, children: bool = False,
                    key=None, with_num_children: bool = False) -> list[dict]:
    """Reference-shaped member hashes (Member#to_h, mondrian_ext.rb:
    168-188): name/full_name/caption/all_member?/drillable?/depth/key/
    num_children/parent_name/level_name/children, plus `ancestors` from
    the same denormalized row (getAncestorMembers analog, :213-217) and
    a `properties` map when ``member_properties`` are requested
    (api_spec.rb:61-64).  ``caption`` replaces the member caption with a
    property value (api_spec.rb:73-78); ``children`` attaches the next
    level's members under each parent (api_spec.rb:80-85).

    The level's held member rows (+ the child level's when requested),
    deduplicated, ordered and shaped on the driver with no Spark job;
    a level wider than the hold cap runs one distinct-select over the
    denormalized dim frame instead.
    """
    cube = resolve_cube(cat, cube_name, dim_name)
    dim, hier, level = _resolve_level(cube, dim_name, hierarchy, level_name)
    if dim.parent_child is not None:
        if member_properties or caption:
            level.find_property((member_properties or [caption])[0])  # KeyError
        return _pc_member_payloads(spark, sf_dir, dim, hier, level,
                                   key=key, children=children,
                                   with_num_children=with_num_children)
    idx = hier.level_index(level.name)
    rd = _drill_for(cube, dim_name, level.name, hierarchy, with_ancestors=True)

    prop_objs, prop_names = [], []
    for pname in member_properties or []:
        p = level.find_property(pname)
        if p.alias not in [q.alias for q in prop_objs]:
            prop_objs.append(p)
        prop_names.append((pname, p.alias))
    cap_prop = level.find_property(caption) if caption else None
    if cap_prop is not None and cap_prop.alias not in [q.alias for q in prop_objs]:
        prop_objs.append(cap_prop)

    mf = _ragged_visible(
        _members_source(spark, sf_dir, cat, cube_name, cube, rd,
                        prop_objs), rd)
    if key is not None:
        mf = mf.filter(F.col(level.key_alias).cast("string") == str(key))
    path_keys = [lv.key_alias for lv in rd.group_levels]
    rows = _distinct_sorted(mf, [level.key_alias], path_keys,
                            None if key is not None else level.name)

    # child members / counts: one extra distinct-select, grouped on the
    # driver (member lists are small by construction)
    child_rows: dict = {}
    child_level = hier.levels[idx + 1] if idx + 1 < len(hier.levels) else None
    if (children or with_num_children) and child_level is not None and rows:
        crd = _drill_for(cube, dim_name, child_level.name, hierarchy, True)
        cmf = _ragged_visible(
            _members_source(spark, sf_dir, cat, cube_name, cube, crd),
            crd)
        parent_keys = [r[level.key_alias] for r in rows]
        if key is not None or len(parent_keys) <= 1000:
            cmf = cmf.filter(F.col(level.key_alias).isin(parent_keys))
        pair = [level.key_alias, child_level.key_alias]
        for cr in _distinct_sorted(cmf, pair, pair):
            child_rows.setdefault(cr[level.key_alias], []).append(cr)

    def level_hash(row, li: int, cap_alias: str | None = None,
                   props: list | None = None) -> dict:
        lv = hier.levels[li]
        cap_col = lv.caption_alias or lv.key_alias
        names = [str(row[hier.levels[i].caption_alias or
                         hier.levels[i].key_alias]) for i in range(li + 1)]
        h = {
            "name": str(row[cap_col]),
            "full_name": _full_name(dim.name, names),
            "caption": row[cap_alias] if cap_alias else row[cap_col],
            "all_member?": False,
            "drillable?": li + 1 < len(hier.levels),
            "depth": li + (1 if hier.has_all else 0),
            "key": row[lv.key_alias],
            "num_children": None,
            "parent_name": (_full_name(dim.name, names[:-1]) if li > 0
                            else (_all_member_full_name(dim, hier)
                                  if hier.has_all else None)),
            "level_name": lv.name,
            "children": [],
        }
        if props:
            h["properties"] = {pname: row[alias] for pname, alias in props}
        return h

    out = []
    for row in rows:
        h = level_hash(row, idx,
                       cap_alias=cap_prop.alias if cap_prop else None,
                       props=prop_names if prop_names else None)
        if children or with_num_children:
            kids = child_rows.get(row[level.key_alias], [])
            h["num_children"] = len(kids)
            if children:
                h["children"] = [level_hash(cr, idx + 1) for cr in kids]
        h["ancestors"] = [level_hash(row, li) for li in range(idx - 1, -1, -1)]
        out.append(h)
    return out


def _pc_member_payloads(spark: SparkSession, sf_dir: str, dim, hier, level,
                        key=None, children: bool = False,
                        with_num_children: bool = False) -> list[dict]:
    """Member hashes for a parent-child dimension (reference HR cube,
    foodmart.xml:529-547): depth = proper-ancestor count from the
    closure, ancestors = the closure chain nearest-first (Mondrian
    getAncestorMembers order), children = the direct edges.

    Three node-table-sized frames (members, closure-derived depths,
    ancestor chains) collected once — org-chart tables are member-list
    sized by definition (MAX_MEMBER_LIST still guards the collect)."""
    from .parser import ParseError
    from .planner import pc_closure_frame, pc_member_frame

    mf = pc_member_frame(spark, sf_dir, dim)
    cl = pc_closure_frame(spark, sf_dir, dim)
    depths = (cl.filter(F.col("depth") > 0)
                .groupBy("descendant_id")
                .agg(F.max("depth").alias("node_depth")))
    nodes = (mf.join(depths, mf["node_id"] == depths["descendant_id"],
                     "left")
               .drop("descendant_id").na.fill({"node_depth": 0}))
    if key is not None:
        nodes = nodes.filter(F.col("node_id") == F.lit(str(key)))
    else:
        n = nodes.count()
        if n > MAX_MEMBER_LIST:
            raise ParseError(
                f"level {level.name!r} has {n:,} members "
                f"(> {MAX_MEMBER_LIST:,}); use cuts/aggregate queries "
                "instead of enumerating it")
    rows = nodes.orderBy("node_depth", "node_id").collect()
    node_ids = [r["node_id"] for r in rows]

    # ancestor chains for the selected nodes, nearest-first
    anc = (cl.filter((F.col("depth") > 0)
                     & F.col("descendant_id").isin(node_ids))
             .join(mf.select(F.col("node_id").alias("anc_id"),
                             F.col("node_name").alias("anc_name")),
                   F.col("ancestor_id") == F.col("anc_id"), "inner")
             .select("descendant_id", "depth", "anc_id", "anc_name")
             .collect())
    chains: dict[str, list] = {}
    for r in sorted(anc, key=lambda r: (r["descendant_id"], r["depth"])):
        chains.setdefault(r["descendant_id"], []).append(r)

    kid_rows: dict[str, list] = {}
    if children or with_num_children:
        kids = (mf.filter(F.col("parent_id").isin(node_ids))
                  .orderBy("node_id").collect())
        for r in kids:
            kid_rows.setdefault(r["parent_id"], []).append(r)
    # a parent-child member is drillable when it has children
    all_parents = {r["parent_id"] for r in
                   mf.select("parent_id").distinct().collect()}

    def one(node_id: str, name: str, depth: int, chain: list) -> dict:
        names = [r["anc_name"] for r in reversed(chain)] + [name]
        return {
            "name": str(name),
            "full_name": _full_name(dim.name, [str(s) for s in names]),
            "caption": name,
            "all_member?": False,
            "drillable?": node_id in all_parents,
            "depth": depth + (1 if hier.has_all else 0),
            "key": node_id,
            "num_children": None,
            "parent_name": (_full_name(dim.name,
                                       [str(s) for s in names[:-1]])
                            if chain else
                            (_all_member_full_name(dim, hier)
                             if hier.has_all else None)),
            "level_name": level.name,
            "children": [],
        }

    out = []
    for row in rows:
        nid = row["node_id"]
        chain = chains.get(nid, [])
        h = one(nid, row["node_name"], row["node_depth"], chain)
        if children or with_num_children:
            ks = kid_rows.get(nid, [])
            h["num_children"] = len(ks)
            if children:
                # the child's nearest ancestor is the node itself
                h["children"] = [
                    one(kr["node_id"], kr["node_name"],
                        row["node_depth"] + 1,
                        [{"anc_id": nid, "anc_name": row["node_name"]}]
                        + chain)
                    for kr in ks]
        h["ancestors"] = [
            one(r["anc_id"], r["anc_name"],
                row["node_depth"] - r["depth"], chain[r["depth"]:])
            for r in chain]
        out.append(h)
    return out


def dimension_payload(spark: SparkSession, sf_dir: str, cat: Catalog,
                      cube_name: str, dim_name: str,
                      get_members: bool = False) -> dict:
    """Dimension#to_h (mondrian_ext.rb:87-105): the GET
    /cubes/:cube/dimensions/:dim response — hierarchies -> levels, each
    level carrying its members when ``get_members`` (the reference
    route always passes get_members: true, api.rb:166-171)."""
    cube = resolve_cube(cat, cube_name, dim_name)
    dim = cube.dimension(dim_name)
    out = {
        "name": dim.name,
        "caption": dim.name,
        "type": "time" if dim.time_dimension else "standard",
        "annotations": dict(dim.annotations),
        "hierarchies": [],
    }
    for h in dim.hierarchies:
        hh = {
            "name": h.name,
            "has_all": h.has_all,
            "all_member_name": h.all_member_name,
            "levels": [],
        }
        for lv in h.levels:
            lh = level_envelope(cat, cube_name, dim_name, lv.name, h.name)
            if get_members:
                lh["members"] = member_payloads(
                    spark, sf_dir, cat, cube_name, dim_name, lv.name, h.name)
            hh["levels"].append(lh)
        out["hierarchies"].append(hh)
    return out


def dimension_info(cat: Catalog, cube_name: str, dim_name: str,
                   level_name: str | None = None,
                   hierarchy: str | None = None) -> dict:
    """Member#dimension_info (mondrian_ext.rb:198-210)."""
    cube = resolve_cube(cat, cube_name, dim_name)
    dim, hier, level = _resolve_level(cube, dim_name, hierarchy, level_name)
    return {
        "name": dim.name,
        "caption": dim.name,
        "type": "time" if dim.time_dimension else "standard",
        "level": level.name,
        "level_depth": hier.level_index(level.name) + (1 if hier.has_all else 0),
        "hierarchy": hier.name,
    }


def level_envelope(cat: Catalog, cube_name: str, dim_name: str,
                   level_name: str | None = None,
                   hierarchy: str | None = None) -> dict:
    """Level#to_h sans members (mondrian_ext.rb:125-146): the envelope
    the members route wraps the member list in."""
    cube = resolve_cube(cat, cube_name, dim_name)
    dim, hier, level = _resolve_level(cube, dim_name, hierarchy, level_name)
    return {
        "name": level.name,
        "full_name": f"[{dim.name}].[{hier.name}].[{level.name}]",
        "depth": hier.level_index(level.name) + (1 if hier.has_all else 0),
        "caption": level.name,
        "annotations": dict(level.annotations),
        "properties": [p.name for p in level.properties],
    }


def member_lookup(spark: SparkSession, sf_dir: str, cat: Catalog, cube_name: str,
                  dim_name: str, level_name: str, key,
                  hierarchy: str | None = None) -> DataFrame:
    """GET .../members/:key (reference api.rb:207-230 — which does a
    linear scan; here it is an indexed filter on the dim frame) with
    ancestors from the same denormalized row."""
    cube = resolve_cube(cat, cube_name, dim_name)
    rd = _drill_for(cube, dim_name, level_name, hierarchy, with_ancestors=True)
    mf = members_frame(spark, sf_dir, cube, rd)
    return mf.filter(F.col(rd.level.key_alias) == F.lit(key)).dropDuplicates(
        [rd.level.key_alias])
