"""MDX-subset compiler tests — the reverse of the reference's golden
MDX strings (query_builder_spec.rb): the MDX build_query would emit
must compile back to the equivalent QueryModel and produce identical
results to the REST path."""

import pytest

from mondrian_rest_spark import tpch
from mondrian_rest_spark.mdx import compile_mdx, execute_mdx
from mondrian_rest_spark.parser import ParseError
from mondrian_rest_spark.planner import aggregate
from mondrian_rest_spark.query import QueryModel


def test_compile_simple_members_axis():
    # mirror of query_builder_spec.rb:58-71 drilldown golden MDX
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]")
    assert qm.cube == "Sales"
    assert qm.measures == ["Revenue"]
    assert qm.drilldown == ["Customer.Region"]
    assert qm.nonempty is False  # MDX default is dense


def test_compile_non_empty_crossjoin():
    # mirror of query_builder_spec MDX with Crossjoin (api_spec.rb:192)
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue], [Measures].[Quantity]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
        "[Time].[Year].Members) ON ROWS FROM [Sales]")
    assert qm.nonempty is True
    assert qm.drilldown == ["Customer.Region", "Time.Year"]
    assert qm.measures == ["Revenue", "Quantity"]


def test_compile_where_slicer():
    # mirror of query_builder_spec.rb:73-110 cut golden MDX
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Sales] "
        "WHERE ([Customer].[Region].[&2] * [Return Flag].[Return Flag].[R])")
    assert qm.cut == ["[Customer].[Region].[&2]",
                      "[Return Flag].[Return Flag].[R]"]


def test_compile_descendants():
    # mirror of query_builder_spec.rb:112-121
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DESCENDANTS([Customer].[Region].[&2], [Customer].[Customer]) "
        "ON ROWS FROM [Sales]")
    assert qm.drilldown == ["Customer.Customer"]
    assert qm.cut == ["[Customer].[Region].[&2]"]


def test_compile_filter_order_subset():
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "SUBSET(ORDER(FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 1000 AND [Measures].[Revenue] < 99999999), "
        "[Measures].[Revenue], BDESC), 1, 3) ON ROWS FROM [Sales]")
    assert qm.filter == ["Revenue > 1000", "Revenue < 99999999"]
    assert qm.order == "Revenue" and qm.order_desc is True
    assert (qm.offset, qm.limit) == (1, 3)


def test_compile_topcount():
    # mirror of api_spec.rb:284-296 raw-MDX TOPCOUNT
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "TOPCOUNT([Part].[Brand].Members, 4, [Measures].[Revenue]) "
        "ON ROWS FROM [Sales]")
    assert qm.limit == 4 and qm.order == "Revenue" and qm.order_desc


def test_compile_infix_crossjoin():
    # the reference exercises `set * set` in raw MDX (api_spec.rb:284-296)
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].Members * [Return Flag].[Return Flag].Members "
        "ON ROWS FROM [Sales]")
    assert qm.drilldown == ["Customer.Region", "Return Flag.Return Flag"]


def test_topcount_infix_compiles_to_named_set(spark, sf_dir):
    """TOPCOUNT(...) * set (reference api_spec.rb:284-296): the top-n
    restricts only its own axis set — no axis-global order/limit — and
    the result equals the explicit WITH SET formulation."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Customer].[Nation].Members, 3, "
        "[Measures].[Revenue]) * [Line Status].[Line Status].Members "
        "ON ROWS FROM [Sales]")
    assert qm.with_sets == [
        ("TopCount Set 1", "Customer.Nation", 3, "Revenue", False)]
    assert qm.order is None and qm.limit is None
    got = sorted(map(tuple, aggregate(
        spark, sf_dir, tpch.CATALOG, qm).collect()))
    exp = sorted(map(tuple, execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH SET [T] AS TOPCOUNT([Customer].[Nation].Members, 3, "
        "[Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [T] * [Line Status].[Line Status].Members ON ROWS "
        "FROM [Sales]").collect()))
    assert got == exp
    # right-operand position works too
    qm2 = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Line Status].[Line Status].Members * "
        "TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Revenue]) "
        "ON ROWS FROM [Sales]")
    assert len(qm2.with_sets) == 1 and qm2.limit is None


def test_whole_axis_topcount_still_ranks():
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, 5, [Measures].[Revenue]) "
        "ON ROWS FROM [Sales]")
    assert qm.with_sets == [] and qm.order == "Revenue" and qm.limit == 5


def test_compile_infix_rejects_complex_set_functions():
    # simple TOPCOUNT(level.Members) * y is supported (named-set
    # compilation), but a set function whose semantics are axis-global
    # (ORDER/SUBSET, or TOPCOUNT over a crossjoin) still cannot sit in
    # infix position -> clear 400 instead of silently truncating the
    # whole crossjoin
    with pytest.raises(ParseError, match="crossjoined"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "TOPCOUNT(CROSSJOIN([Part].[Brand].Members, "
            "[Return Flag].[Return Flag].Members), 5, [Measures].[Revenue])"
            " * [Customer].[Region].Members ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="crossjoined"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "ORDER([Part].[Brand].Members, [Measures].[Revenue], BDESC) * "
            "[Customer].[Region].Members ON ROWS FROM [Sales]")


def test_function_crossjoin_topcount_operand_named_set():
    """CROSSJOIN(TOPCOUNT(set, n, m), other) — a simple TOPCOUNT in
    function-form crossjoin position routes through the same inline
    named set as the infix form (ADVICE r5: it previously compiled to
    axis-global order/limit, truncating the whole crossjoin)."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CROSSJOIN(TOPCOUNT([Customer].[Nation].Members, 3, "
        "[Measures].[Revenue]), [Line Status].[Line Status].Members) "
        "ON ROWS FROM [Sales]")
    assert qm.with_sets == [
        ("TopCount Set 1", "Customer.Nation", 3, "Revenue", False)]
    assert qm.order is None and qm.limit is None
    # non-simple set functions as crossjoin operands stay a clear 400
    with pytest.raises(ParseError, match="crossjoin operand"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "CROSSJOIN(ORDER([Part].[Brand].Members, [Measures].[Revenue],"
            " BDESC), [Customer].[Region].Members) ON ROWS FROM [Sales]")


def test_malformed_counts_are_parse_errors():
    """Non-numeric count tokens (TOPCOUNT n, SUBSET offset/count,
    PARALLELPERIOD lag, WITH SET k) are 400s, not ValueErrors/500s."""
    for bad in [
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "TOPCOUNT([Customer].[Nation].Members, MANY, [Measures].[Revenue])"
        " ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "SUBSET([Customer].[Nation].Members, x) ON ROWS FROM [Sales]",
        "WITH SET [S] AS TOPCOUNT([Customer].[Nation].Members, n, "
        "[Measures].[Revenue]) SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[S] ON ROWS FROM [Sales]",
    ]:
        with pytest.raises(ParseError, match="integer"):
            compile_mdx(bad)
    # a non-numeric PARALLELPERIOD lag falls off the tuple grammar into
    # the arithmetic-formula path — still a ParseError (400), not a 500
    with pytest.raises(ParseError):
        compile_mdx(
            "WITH MEMBER [Measures].[P] AS ([Measures].[Revenue], "
            "PARALLELPERIOD([Time].[Year], two)) SELECT {[Measures].[P]} "
            "ON COLUMNS, [Time].[Year].Members ON ROWS FROM [Sales]")


def test_children_axis_matches_descendants(spark, sf_dir):
    """<member>.Children == DESCENDANTS(member, child level): children
    of region &2 are its nations, sliced to that region."""
    got = sorted(map(tuple, execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].[&2].Children ON ROWS "
        "FROM [Sales]").collect()))
    exp = sorted(map(tuple, execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DESCENDANTS([Customer].[Region].[&2], "
        "[Customer].[Nation]) ON ROWS FROM [Sales]").collect()))
    assert got and got == exp


def test_children_in_crossjoin(spark, sf_dir):
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CROSSJOIN([Customer].[Region].[&2].Children, "
        "[Line Status].[Line Status].Members) ON ROWS FROM [Sales]")
    assert qm.children_of == ["[Customer].[Region].[&2]"]
    rows = aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()
    assert rows and {"cust_nation_key", "l_linestatus"} <= set(
        rows[0].asDict())


def test_children_error_paths(spark, sf_dir):
    # leaf level has no children -> 400 naming the level
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Customer].[&1].Children ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="leaf level"):
        aggregate(spark, sf_dir, tpch.CATALOG, qm)
    # too-short member path is a parse-time 400
    with pytest.raises(ParseError, match="Children"):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Customer].Children ON ROWS FROM [Sales]")
    # unknown member methods stay a clear 400 (.Parent is supported
    # since r6 — see test_mdx_member_parent_axis)
    with pytest.raises(ParseError, match=r"Members, .Children, .Parent"):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Customer].[Region].[&2].Sibling ON ROWS FROM [Sales]")


def test_hierarchize_is_default_order(spark, sf_dir):
    """HIERARCHIZE(set) == the engine's default hierarchical axis
    order, so wrapped and unwrapped axes return identical frames."""
    raw = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY HIERARCHIZE(CROSSJOIN([Customer].[Region].Members, "
           "[Return Flag].[Return Flag].Members)) ON ROWS FROM [Sales]")
    plain = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
             "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
             "[Return Flag].[Return Flag].Members) ON ROWS FROM [Sales]")
    got = [tuple(r) for r in execute_mdx(
        spark, sf_dir, tpch.CATALOG, raw).collect()]
    exp = [tuple(r) for r in execute_mdx(
        spark, sf_dir, tpch.CATALOG, plain).collect()]
    assert got == exp   # including row order
    # ORDER inside HIERARCHIZE: supported since r9 — the measure rank
    # is overridden by the hierarchical display re-sort (qm.hierarchize)
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "HIERARCHIZE(ORDER([Customer].[Region].Members, "
        "[Measures].[Revenue], BDESC)) ON ROWS FROM [Sales]")
    assert qm.hierarchize and qm.order == "Revenue"


def test_compile_non_default_hierarchy_members(spark, sf_dir):
    """[Time].[Weekly].[Week].Members — a 3-segment path over a
    non-default hierarchy — must compile and match the REST path."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Weekly].[Week].Members ON ROWS FROM [Sales]")
    assert qm.drilldown == ["Time.Weekly.Week"]
    got = sorted(map(tuple, aggregate(
        spark, sf_dir, tpch.CATALOG, qm).collect()))
    exp = sorted(map(tuple, aggregate(spark, sf_dir, tpch.CATALOG,
        QueryModel(cube="Sales", measures=["Revenue"],
                   drilldown=["Time.Weekly.Week"])).collect()))
    assert got == exp


def test_compile_rejects_garbage():
    with pytest.raises(ParseError):
        compile_mdx("DROP TABLE lineitem")
    with pytest.raises(ParseError):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS FROM [Sales] EXTRA")


def _canon(qm: QueryModel) -> dict:
    """Round-trip-comparable view of a QueryModel: the parsed meaning of
    drilldowns/cuts/filters, not their surface spelling."""
    from mondrian_rest_spark.parser import (parse_cut, parse_drilldown,
                                            parse_measure_filter,
                                            parse_property)
    ns = {s.name for s in tpch.CATALOG.cube(qm.cube).named_sets} \
        if tpch.CATALOG.virtual_cube(qm.cube) is None else set()
    ns |= {ws[0] for ws in getattr(qm, "with_sets", [])}
    return {
        "cube": qm.cube,
        "measures": list(qm.measures),
        "drilldown": [parse_drilldown(d, ns) for d in qm.drilldown],
        "cut": [parse_cut(c, ns) for c in qm.cut],
        "filter": [parse_measure_filter(f) for f in qm.filter],
        "nonempty": qm.nonempty, "distinct": qm.distinct,
        # order_desc is meaningless without an order key
        "order": qm.order, "order_desc": bool(qm.order) and qm.order_desc,
        "offset": qm.offset or None, "limit": qm.limit,
        "with_members": list(qm.with_members),
        "with_sets": list(getattr(qm, "with_sets", [])),
        "properties": [parse_property(pr) for pr in qm.properties],
    }


@pytest.mark.parametrize("qm", [
    QueryModel(cube="Sales", measures=["Revenue"],
               drilldown=["Customer.Region"], nonempty=True),
    QueryModel(cube="Sales", measures=["Revenue", "Quantity"],
               drilldown=["Customer.Region", "Time.Year"],
               cut=["[Customer].[Region].[&2]"], nonempty=True),
    QueryModel(cube="Sales", measures=["Revenue"],
               drilldown=["Part.Brand"], order="Revenue", order_desc=True,
               offset=2, limit=5),
    QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
               drilldown=["Customer.Nation"], filter=["Revenue > 20000000"],
               nonempty=True),
    QueryModel(cube="Sales", measures=["Revenue"], drilldown=["Time.Month"],
               cut=["([Time].[Year].[1996]:[Time].[Year].[1998])"]),
    QueryModel(cube="Sales", measures=["Revenue"], drilldown=["Time.Year"],
               cut=["{[Customer].[Region].[AMERICA],[Customer].[Region].[EUROPE]}"],
               distinct=True, nonempty=True),
    QueryModel(cube="Sales", measures=["Revenue"],
               drilldown=["Customer.Customer"],
               properties=["Customer.Customer.Market Segment",
                           "Customer.Customer.Account Balance"],
               nonempty=True),
])
def test_emit_compile_round_trip(qm):
    """emit_mdx is the inverse of compile_mdx over the shared subset
    (the reference's debug=true echo must parse back to the same
    query, api.rb:39)."""
    from mondrian_rest_spark.mdx import emit_mdx
    mdx = emit_mdx(tpch.CATALOG, qm)
    back = compile_mdx(mdx)
    assert _canon(back) == _canon(qm)


def test_compile_with_member():
    qm = compile_mdx(
        "WITH MEMBER [Measures].[Disc Rate] AS "
        "[Measures].[Discount Sum] / [Measures].[Extended Price] "
        "SELECT {[Measures].[Revenue], [Measures].[Disc Rate]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]")
    assert qm.with_members == [
        ("Disc Rate", "{m:Discount Sum} / {m:Extended Price}")]
    assert qm.measures == ["Revenue", "Disc Rate"]


def test_compile_with_member_quoted_and_arith():
    qm = compile_mdx(
        "WITH MEMBER [Measures].[X] AS "
        "'( [Measures].[Revenue] - [Measures].[Discount Sum] ) / 100' "
        "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    assert qm.with_members == [
        ("X", "( {m:Revenue} - {m:Discount Sum} ) / 100")]


def test_with_member_rejects_bad_formulas():
    with pytest.raises(ParseError):   # non-arithmetic formula content
        compile_mdx("WITH MEMBER [Measures].[X] AS "
                    "SUM([Customer].[Region].Members) "
                    "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    with pytest.raises(ParseError):   # empty formula
        compile_mdx("WITH MEMBER [Measures].[X] AS "
                    "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    # ADVICE r9: a plain grouping paren is NOT a condition context —
    # boolean connectives at the top of a value formula must be a
    # clean ParseError 400, not a later Spark AnalysisException 500
    with pytest.raises(ParseError):
        compile_mdx("WITH MEMBER [Measures].[X] AS "
                    "([Measures].[Revenue] AND [Measures].[Quantity]) + 1 "
                    "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    # ...while AND inside a genuine condition context stays legal
    qm = compile_mdx(
        "WITH MEMBER [Measures].[X] AS "
        "IIF([Measures].[Revenue] > 1 AND [Measures].[Quantity] > 1, "
        "1, 0) SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    assert qm.with_members


def test_with_member_unknown_ref_is_400(spark, sf_dir):
    mdx = ("WITH MEMBER [Measures].[X] AS [Measures].[No Such] + 1 "
           "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]")
    with pytest.raises(ParseError):
        execute_mdx(spark, sf_dir, tpch.CATALOG, mdx)


def test_with_member_execution_matches_manual(spark, sf_dir):
    """The inline member must equal the same arithmetic applied to the
    separately-aggregated base measures."""
    mdx = ("WITH MEMBER [Measures].[Disc Rate] AS "
           "[Measures].[Discount Sum] / [Measures].[Extended Price] "
           "SELECT {[Measures].[Disc Rate]} ON COLUMNS, "
           "[Customer].[Region].Members ON ROWS FROM [Sales]")
    got = {r.cust_region: r.disc_rate for r in
           execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()}
    base = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Discount Sum", "Extended Price"],
        drilldown=["Customer.Region"])).collect()
    exp = {r.cust_region: r.sum_disc / r.sum_price for r in base}
    assert got == exp


def test_with_member_can_reference_schema_calc(spark, sf_dir):
    """Inline members may build on schema calc members (avg_price) —
    the dependency closure must pull them in."""
    mdx = ("WITH MEMBER [Measures].[Double Avg] AS "
           "[Measures].[Avg Price] * 2 "
           "SELECT {[Measures].[Double Avg]} ON COLUMNS, "
           "[Customer].[Region].Members ON ROWS FROM [Sales]")
    got = {r.cust_region: r.double_avg for r in
           execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()}
    base = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Avg Price"],
        drilldown=["Customer.Region"])).collect()
    exp = {r.cust_region: r.avg_price * 2 for r in base}
    assert got == exp


def test_compile_parallelperiod_tuple():
    qm = compile_mdx(
        "WITH MEMBER [Measures].[PY] AS "
        "([Measures].[Revenue], PARALLELPERIOD([Time].[Year], 1)) "
        "SELECT {[Measures].[PY]} ON COLUMNS, "
        "[Time].[Year].Members ON ROWS FROM [Sales]")
    assert qm.with_members == [("PY", "{lag:Revenue:Time.Year:1}")]
    # default shift is 1
    qm2 = compile_mdx(
        "WITH MEMBER [Measures].[PY] AS "
        "([Measures].[Revenue], PARALLELPERIOD([Time].[Year])) "
        "SELECT {[Measures].[PY]} ON COLUMNS, "
        "[Time].[Year].Members ON ROWS FROM [Sales]")
    assert qm2.with_members == [("PY", "{lag:Revenue:Time.Year:1}")]


def test_parallelperiod_matches_schema_lag_member(spark, sf_dir):
    """The inline PARALLELPERIOD member must equal the schema-declared
    PREVMEMBER calc member (Revenue Prev Period) at the same grain."""
    mdx = ("WITH MEMBER [Measures].[PY] AS "
           "([Measures].[Revenue], PARALLELPERIOD([Time].[Year], 1)) "
           "SELECT {[Measures].[PY]} ON COLUMNS, "
           "CROSSJOIN([Customer].[Region].Members, [Time].[Year].Members) "
           "ON ROWS FROM [Sales]")
    got = {(r.cust_region, r.year): r.py for r in
           execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()}
    base = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue Prev Period"],
        drilldown=["Customer.Region", "Time.Year"])).collect()
    exp = {(r.cust_region, r.year): r.revenue_prev for r in base}
    assert got == exp


def test_parallelperiod_level_mismatch_is_400(spark, sf_dir):
    mdx = ("WITH MEMBER [Measures].[PY] AS "
           "([Measures].[Revenue], PARALLELPERIOD([Time].[Year], 1)) "
           "SELECT {[Measures].[PY]} ON COLUMNS, "
           "[Time].[Month].Members ON ROWS FROM [Sales]")
    with pytest.raises(ParseError):
        execute_mdx(spark, sf_dir, tpch.CATALOG, mdx)


def test_parallelperiod_lag2(spark, sf_dir):
    mdx = ("WITH MEMBER [Measures].[R2] AS "
           "([Measures].[Revenue], PARALLELPERIOD([Time].[Year], 2)) "
           "SELECT {[Measures].[Revenue], [Measures].[R2]} ON COLUMNS, "
           "[Time].[Year].Members ON ROWS FROM [Sales]")
    rows = sorted(execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect(),
                  key=lambda r: r.year)
    by_year = {r.year: r for r in rows}
    years = sorted(by_year)
    for i, y in enumerate(years):
        exp = by_year[years[i - 2]].revenue if i >= 2 else None
        assert by_year[y].r2 == exp


def test_compile_with_set():
    qm = compile_mdx(
        "WITH SET [Top3 Nations] AS "
        "TOPCOUNT([Customer].[Nation].Members, 3, [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Top3 Nations] ON ROWS FROM [Sales]")
    assert qm.with_sets == [
        ("Top3 Nations", "Customer.Nation", 3, "Revenue", False)]
    assert qm.drilldown == ["Top3 Nations"]
    # quoted + BOTTOMCOUNT form
    qm2 = compile_mdx(
        "WITH SET [B] AS "
        "'BOTTOMCOUNT([Customer].[Region].Members, 2, [Measures].[Revenue])' "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, [B] ON ROWS FROM [Sales]")
    assert qm2.with_sets == [("B", "Customer.Region", 2, "Revenue", True)]


def test_with_set_rejects_bad_formulas():
    # a .Members body is now a VALID member-set macro (r8), not a 400
    qm = compile_mdx("WITH SET [S] AS [Customer].[Region].Members "
                     "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                     "[S] ON ROWS FROM [Sales]")
    assert qm.drilldown == ["Customer.Region"] and qm.cut == []
    with pytest.raises(ParseError):   # genuinely bad body
        compile_mdx("WITH SET [S] AS 5 "
                    "SELECT {[Measures].[Revenue]} ON COLUMNS FROM [Sales]")
    with pytest.raises(ParseError):   # set name must be one segment
        compile_mdx("WITH SET [A].[B] AS "
                    "TOPCOUNT([Customer].[Region].Members, 2, "
                    "[Measures].[Revenue]) "
                    "SELECT {[Measures].[Revenue]} ON COLUMNS FROM [Sales]")


def test_with_set_matches_schema_named_set(spark, sf_dir):
    """An inline WITH SET defined identically to the schema's Top5
    Customers must return the same rows through the same plan path."""
    mdx = ("WITH SET [My Top5] AS "
           "TOPCOUNT([Customer].[Customer].Members, 5, [Measures].[Revenue]) "
           "SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY [My Top5] ON ROWS FROM [Sales]")
    got = sorted(map(tuple, execute_mdx(
        spark, sf_dir, tpch.CATALOG, mdx).collect()))
    exp = sorted(map(tuple, aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue"],
        drilldown=["[Top5 Customers]"])).collect()))
    assert got == exp


def test_with_set_slicer_at_non_drilled_level(spark, sf_dir):
    """A set at Region level slicing a Nation drilldown: the nation
    rows must be exactly those whose region survives the BOTTOMCOUNT."""
    mdx = ("WITH SET [Bottom2] AS "
           "BOTTOMCOUNT([Customer].[Region].Members, 2, [Measures].[Revenue]) "
           "SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales] "
           "WHERE ([Bottom2])")
    got = {r.cust_nation_key for r in
           execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()}
    regions = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue"],
        drilldown=["Customer.Region"])).collect()
    bottom2 = {r.cust_region_key for r in
               sorted(regions, key=lambda r: (r.revenue, r.cust_region_key))[:2]}
    nations = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue"],
        drilldown=["Customer.Region", "Customer.Nation"])).collect()
    exp = {r.cust_nation_key for r in nations if r.cust_region_key in bottom2}
    assert got == exp


def test_order_by_member_method_and_property(spark, sf_dir):
    """ORDER keys beyond measures (query_helper.rb:166-188): member
    Caption/Key methods and Properties('P')."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ORDER([Customer].[Nation].Members, "
        "[Customer].[Nation].CurrentMember.Caption, BDESC) ON ROWS "
        "FROM [Sales]")
    assert qm.order == "Customer.Nation.Caption" and qm.order_desc
    rows = aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()
    caps = [r.cust_nation for r in rows]
    assert caps == sorted(caps, reverse=True)
    # property order via MDX mirrors the REST property-order path (q11)
    qm2 = compile_mdx(
        "SELECT {[Measures].[Quantity]} ON COLUMNS, "
        "ORDER([Supplier].[Supplier].Members, "
        "[Supplier].[Supplier].CurrentMember.Properties('Account Balance')"
        ", BASC) ON ROWS FROM [Sales]")
    assert qm2.order == "Supplier.Supplier.Account Balance"
    qm2.properties = ["Supplier.Supplier.Account Balance"]
    qm2.limit = 5
    rows2 = aggregate(spark, sf_dir, tpch.CATALOG, qm2).collect()
    bals = [r.s_acctbal for r in rows2]
    assert bals == sorted(bals)
    # round-trips through the echo
    for q in (qm, qm2):
        assert _canon(compile_mdx(emit_mdx_local(q))) == _canon(q)


def emit_mdx_local(qm):
    from mondrian_rest_spark.mdx import emit_mdx
    return emit_mdx(tpch.CATALOG, qm)


def test_order_uniquename_is_400(spark, sf_dir):
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ORDER([Customer].[Nation].Members, "
        "[Customer].[Nation].CurrentMember.UniqueName, BASC) ON ROWS "
        "FROM [Sales]")
    with pytest.raises(ParseError):
        aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()


def test_order_property_not_requested_is_400(spark, sf_dir):
    qm = compile_mdx(
        "SELECT {[Measures].[Quantity]} ON COLUMNS, "
        "ORDER([Supplier].[Supplier].Members, "
        "[Supplier].[Supplier].CurrentMember.Properties('Account Balance')"
        ", BASC) ON ROWS FROM [Sales]")
    with pytest.raises(ParseError):
        aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()


def test_virtual_cube_with_member(spark, sf_dir):
    """Cross-cube inline ratio on a drill-across query; referenced base
    measures (Total Price) are aggregated but dropped from output."""
    mdx = ("WITH MEMBER [Measures].[Rev To Orders] AS "
           "[Measures].[Revenue] / [Measures].[Total Price] "
           "SELECT {[Measures].[Revenue], [Measures].[Rev To Orders]} "
           "ON COLUMNS, [Customer].[Region].Members ON ROWS "
           "FROM [Orders and Sales]")
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    assert rows and set(rows[0].asDict()) == {
        "cust_region_key", "cust_region", "revenue", "rev_to_orders"}
    base = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Orders and Sales", measures=["Revenue", "Total Price"],
        drilldown=["Customer.Region"])).collect()
    exp = {r.cust_region: r.revenue / r.total_price for r in base}
    assert {r.cust_region: r.rev_to_orders for r in rows} == exp


def test_virtual_cube_with_member_errors(spark, sf_dir):
    with pytest.raises(ParseError, match="drilldown"):
        # PARALLELPERIOD virtualizes (r11) but still needs its time
        # axis drilled, same as the base-cube path
        execute_mdx(spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[X] AS "
            "([Measures].[Revenue], PARALLELPERIOD([Time].[Year], 1)) "
            "SELECT {[Measures].[X]} ON COLUMNS, "
            "[Customer].[Region].Members "
            "ON ROWS FROM [Orders and Sales]")
    with pytest.raises(ParseError, match="not conformed|conformed"):
        # WITH SET virtualizes (r11) but only over conformed dims
        execute_mdx(spark, sf_dir, tpch.CATALOG,
            "WITH SET [S] AS TOPCOUNT([Part].[Brand].Members, 2, "
            "[Measures].[Revenue]) "
            "SELECT {[Measures].[Revenue]} ON COLUMNS, [S] ON ROWS "
            "FROM [Orders and Sales]")
    with pytest.raises(ParseError):   # unknown ref
        execute_mdx(spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[X] AS [Measures].[No Such] + 1 "
            "SELECT {[Measures].[X]} ON COLUMNS FROM [Orders and Sales]")


def test_emit_named_set_drilldown():
    from mondrian_rest_spark.mdx import emit_mdx
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Top5 Customers"], nonempty=True)
    mdx = emit_mdx(tpch.CATALOG, qm)
    assert "[Top5 Customers]" in mdx
    back = compile_mdx(mdx)
    assert back.drilldown == ["Top5 Customers"]


def test_mdx_execution_matches_rest_path(spark, sf_dir):
    mdx = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
           "[Time].[Year].Members) ON ROWS FROM [Sales] "
           "WHERE ([Customer].[Region].[&2])")
    via_mdx = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    via_rest = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue"],
        drilldown=["Customer.Region", "Time.Year"],
        cut=["[Customer].[Region].[&2]"], nonempty=True)).collect()
    assert sorted(map(tuple, via_mdx)) == sorted(map(tuple, via_rest))


# ---- property-based round trip (hypothesis) --------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_MEASURES = st.lists(st.sampled_from(
    ["Revenue", "Quantity", "Line Count", "Extended Price"]),
    min_size=1, max_size=3, unique=True)
_DRILLS = st.lists(st.sampled_from(
    ["Customer.Region", "Customer.Nation", "Time.Year", "Part.Brand",
     "Return Flag", "Time.Weekly.Week"]),
    min_size=0, max_size=3, unique=True)
_CUTS = st.lists(st.sampled_from(
    ["[Customer].[Region].[&2]",
     "{[Customer].[Region].[AMERICA],[Customer].[Region].[EUROPE]}",
     "([Time].[Year].[1996]:[Time].[Year].[1998])",
     "[Return Flag].[R]"]),
    min_size=0, max_size=2, unique=True)


_WITH_MEMBERS = st.sampled_from([
    [],
    [("Disc Rate", "{m:Discount Sum} / {m:Extended Price}")],
    [("A", "{m:Revenue} * 2"), ("B", "( {m:Revenue} - {m:Discount Sum} ) / 10")],
    [("PY", "{lag:Revenue:Time.Year:1}")],
])


_WITH_SETS = st.sampled_from([
    [],
    [("T3", "Customer.Nation", 3, "Revenue", False)],
    [("B2", "Customer.Region", 2, "Revenue", True)],
])


@settings(max_examples=60, deadline=None)
@given(measures=_MEASURES, drills=_DRILLS, cuts=_CUTS,
       nonempty=st.booleans(), distinct=st.booleans(),
       order=st.sampled_from([None, "Revenue", "Customer.Nation.Caption",
                              "Customer.Nation.Key",
                              "Supplier.Supplier.Account Balance"]),
       desc=st.booleans(),
       offset=st.sampled_from([None, 2]), limit=st.sampled_from([None, 5]),
       wm=_WITH_MEMBERS, ws=_WITH_SETS)
def test_emit_compile_round_trip_property(measures, drills, cuts, nonempty,
                                          distinct, order, desc, offset,
                                          limit, wm, ws):
    """Any QueryModel in the emitter's domain survives emit->compile
    with identical parsed meaning (the debug echo is never a lie)."""
    from mondrian_rest_spark.mdx import emit_mdx
    qm = QueryModel(cube="Sales", measures=measures, drilldown=drills,
                    cut=cuts, nonempty=nonempty and bool(drills),
                    distinct=distinct and bool(drills),
                    order=order if drills else None, order_desc=desc,
                    offset=offset if drills else None,
                    limit=limit if drills else None,
                    with_members=wm, with_sets=ws)
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert _canon(back) == _canon(qm)


def test_mdx_lastperiods_axis(spark, sf_dir):
    """LASTPERIODS(n, member): the n periods ending at the member,
    compiled to a drilldown + IN-literal key cut (Mondrian idiom the
    reference accepts via api.rb:21-50)."""
    out = execute_mdx(spark, sf_dir, tpch.CATALOG, """
        SELECT {[Measures].[Line Count]} ON COLUMNS,
               NON EMPTY LASTPERIODS(3, [Time].[Year].[1997]) ON ROWS
        FROM [Sales]""").collect()
    assert [r["year"] for r in out] == [1995, 1996, 1997]
    expected = {r["year"]: r.line_count for r in aggregate(
        spark, sf_dir, tpch.CATALOG,
        QueryModel(cube="Sales", measures=["Line Count"],
                   drilldown=["Time.Year"],
                   cut=["{[Time].[Year].[&1995],[Time].[Year].[&1996],"
                        "[Time].[Year].[&1997]}"])).collect()}
    assert {r["year"]: r.line_count for r in out} == expected


def test_mdx_member_parent_axis(spark, sf_dir):
    """<member>.Parent: drills the PARENT level sliced to the member's
    parent (full parent aggregate, not just the child's share) —
    caption and [&key] member forms both resolve."""
    by_caption = execute_mdx(spark, sf_dir, tpch.CATALOG, """
        SELECT {[Measures].[Revenue]} ON COLUMNS,
               NON EMPTY [Customer].[Nation].[NATION_5].Parent ON ROWS
        FROM [Sales]""").collect()
    by_key = execute_mdx(spark, sf_dir, tpch.CATALOG, """
        SELECT {[Measures].[Revenue]} ON COLUMNS,
               NON EMPTY [Customer].[Nation].[&5].Parent ON ROWS
        FROM [Sales]""").collect()
    assert [tuple(r) for r in by_caption] == [tuple(r) for r in by_key]
    assert len(by_caption) == 1
    region_key = by_caption[0].cust_region_key
    # the row is the REGION's full aggregate (every nation in it)
    full = {r.cust_region_key: r.revenue for r in aggregate(
        spark, sf_dir, tpch.CATALOG,
        QueryModel(cube="Sales", measures=["Revenue"],
                   drilldown=["Customer.Region"])).collect()}
    assert by_caption[0].revenue == full[region_key]


def test_mdx_parent_lastperiods_rejections(spark, sf_dir):
    """Malformed or out-of-domain .Parent / LASTPERIODS -> 400."""
    cases = [
        # top level has no parent
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].[AFRICA].Parent ON ROWS FROM [Sales]",
        # degenerate time levels: keys repeat per parent
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Quarter].[2].Parent ON ROWS FROM [Sales]",
        # unknown members
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[NOPE].Parent ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "LASTPERIODS(2, [Time].[Year].[1902]) ON ROWS FROM [Sales]",
        # malformed counts -> 400, not ValueError/500
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "LASTPERIODS(x, [Time].[Year].[1997]) ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "LASTPERIODS(0, [Time].[Year].[1997]) ON ROWS FROM [Sales]",
        # unknown member method stays a clear 400
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[&5].Sibling ON ROWS FROM [Sales]",
        # key-order navigation on repeating-key degenerate levels
        # (quarter 1-4 recurs every year) would silently cross
        # parents -> rejected like .Parent (r6 ADVICE, medium)
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "LASTPERIODS(2, [Time].[Quarter].[&2]) ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Month].[&6].Lag(1) ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Quarter].[&2].Lead(1) ON ROWS FROM [Sales]",
    ]
    for mdx in cases:
        with pytest.raises(ParseError):
            execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()

    # the guard is data-driven, not name-driven: Day keys are full
    # dates (globally unique even though nested under Month), so
    # key-order navigation there stays legal
    from mondrian_rest_spark.sources.registry import load_table
    day = (load_table(spark, sf_dir, "lineitem")
           .selectExpr("max(to_date(l_shipdate)) d").first()["d"])
    out = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        f"NON EMPTY LASTPERIODS(2, [Time].[Day].[&{day}]) ON ROWS "
        "FROM [Sales]").collect()
    assert 1 <= len(out) <= 2


def test_mdx_parent_lastperiods_round_trip():
    """emit_mdx echoes the new axis forms; compile(emit(qm)) == qm."""
    from mondrian_rest_spark.mdx import emit_mdx
    qm = QueryModel(cube="Sales", measures=["Revenue"], nonempty=True,
                    parent_of=["[Customer].[Nation].[&5]"],
                    lastperiods=[("[Time].[Year].[1997]", 3)])
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.parent_of == qm.parent_of
    assert back.lastperiods == qm.lastperiods


def test_mdx_iif_formula(spark, sf_dir):
    """IIF(cond, a, b) inside WITH MEMBER compiles to SQL if() and
    evaluates post-aggregation; comparisons supported; commas only
    legal inside an IIF argument list."""
    out = execute_mdx(spark, sf_dir, tpch.CATALOG, """
        WITH MEMBER [Measures].[Flagged] AS
             IIF([Measures].[Revenue] > 0, [Measures].[Revenue], 0)
        SELECT {[Measures].[Revenue], [Measures].[Flagged]} ON COLUMNS,
               NON EMPTY [Customer].[Region].Members ON ROWS
        FROM [Sales]""").collect()
    assert out and all(r.flagged == r.revenue for r in out)

    # <> spelling, and emit/compile round-trip of the template
    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx(
        "WITH MEMBER [Measures].[NZ] AS "
        "IIF([Measures].[Line Count] <> 0, "
        "[Measures].[Revenue] / [Measures].[Line Count], 0) "
        "SELECT {[Measures].[NZ]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales]")
    assert "if" in qm.with_members[0][1]
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.with_members == qm.with_members

    # malformed forms are clean 400s
    for bad in [
        # IIF without parens
        "WITH MEMBER [Measures].[X] AS IIF [Measures].[Revenue] "
        "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]",
        # comma outside an IIF argument list
        "WITH MEMBER [Measures].[X] AS ([Measures].[Revenue], 2) "
        "SELECT {[Measures].[X]} ON COLUMNS FROM [Sales]",
    ]:
        with pytest.raises(ParseError):
            compile_mdx(bad)


def test_mdx_member_lag_lead(spark, sf_dir):
    """<member>.Lag(n)/.Lead(n): the single member shifted n positions
    along the level's key order; Lag(-n) == Lead(n); Lag(0) == self;
    out-of-range and malformed shifts are 400s."""
    def run(mdx):
        return [tuple(r) for r in
                execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()]

    lag2 = run("SELECT {[Measures].[Revenue]} ON COLUMNS, "
               "NON EMPTY [Time].[Year].[1997].Lag(2) ON ROWS FROM [Sales]")
    assert len(lag2) == 1 and lag2[0][0] == 1995
    assert lag2 == run(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].[1995].Lag(0) ON ROWS FROM [Sales]")
    assert run("SELECT {[Measures].[Revenue]} ON COLUMNS, "
               "NON EMPTY [Time].[Year].[1997].Lag(-2) ON ROWS "
               "FROM [Sales]") == \
        run("SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY [Time].[Year].[1997].Lead(2) ON ROWS FROM [Sales]")

    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                     "[Time].[Year].[1997].Lead(1) ON ROWS FROM [Sales]")
    assert qm.member_lags == [("[Time].[Year].[1997]", -1)]
    assert compile_mdx(emit_mdx(tpch.CATALOG, qm)) == qm

    for bad in [
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Year].[1995].Lag(40) ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Year].[1997].Lag(x) ON ROWS FROM [Sales]",
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Time].[Year].[1902].Lag(1) ON ROWS FROM [Sales]",
    ]:
        with pytest.raises(ParseError):
            execute_mdx(spark, sf_dir, tpch.CATALOG, bad).collect()


# --- round-7 MDX surface: ranges, UNION, HEAD/TAIL, edge children ----------

def test_mdx_axis_member_range(spark, sf_dir):
    """a:b on an axis = drill the level cut to the range — identical to
    the REST range-cut path (Mondrian member range idiom)."""
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].[1996]:[Time].[Year].[1998] ON ROWS "
        "FROM [Sales]").collect()
    rest = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Revenue"], drilldown=["Time.Year"],
        cut=["([Time].[Year].[1996]:[Time].[Year].[1998])"])).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in rest]
    assert [r[0] for r in got] == [1996, 1997, 1998]
    with pytest.raises(ParseError, match="share a level"):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Time].[Year].[1996]:[Time].[Month].[3] ON ROWS "
                    "FROM [Sales]")


def test_mdx_union_member_sets(spark, sf_dir):
    """UNION folds brace sets / members / nested UNIONs on one level
    into a single set cut, deduplicated."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY UNION({[Customer].[Nation].[&3],[Customer].[Nation].[&7]}, "
        "UNION([Customer].[Nation].[&9], "
        "{[Customer].[Nation].[&7],[Customer].[Nation].[&21]})) ON ROWS "
        "FROM [Sales]")
    assert qm.drilldown == ["Customer.Nation"]
    assert qm.cut == ["{[Customer].[Nation].[&3],[Customer].[Nation].[&7],"
                      "[Customer].[Nation].[&9],[Customer].[Nation].[&21]}"]
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY UNION({[Customer].[Nation].[&3],[Customer].[Nation].[&7]}, "
        "{[Customer].[Nation].[&21]}) ON ROWS FROM [Sales]").collect()
    assert [r[0] for r in rows] == [3, 7, 21]
    with pytest.raises(ParseError, match="share a level"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "UNION({[Customer].[Nation].[&3]}, {[Customer].[Region].[&1]}) "
            "ON ROWS FROM [Sales]")


def test_mdx_head_tail(spark, sf_dir):
    """HEAD = first n of the axis total order; TAIL = last n, returned
    in forward order.  Both compose with crossjoins."""
    head = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY HEAD([Customer].[Nation].Members, 4) ON ROWS "
        "FROM [Sales]").collect()
    assert [r[0] for r in head] == [0, 1, 2, 3]
    tail = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TAIL([Customer].[Nation].Members, 4) ON ROWS "
        "FROM [Sales]").collect()
    assert [r[0] for r in tail] == [21, 22, 23, 24]
    # Mondrian default count = 1
    tail1 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TAIL([Customer].[Nation].Members) ON ROWS "
        "FROM [Sales]").collect()
    assert [r[0] for r in tail1] == [24]
    # TAIL of a crossjoin: last n of the hierarchical tuple order
    tj = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TAIL([Time].[Year].[1996]:[Time].[Year].[1999] * "
        "[Line Status].[Line Status].Members, 3) ON ROWS FROM [Sales]"
        ).collect()
    assert [(r[0], r[1]) for r in tj] == [(1998, "O"), (1999, "F"),
                                          (1999, "O")]


def test_mdx_nonemptycrossjoin(spark, sf_dir):
    """NONEMPTYCROSSJOIN(a, b) = NON EMPTY CROSSJOIN(a, b)."""
    a = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NONEMPTYCROSSJOIN([Customer].[Region].Members, "
        "[Line Status].[Line Status].Members) ON ROWS FROM [Sales]")
    b = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
        "[Line Status].[Line Status].Members) ON ROWS FROM [Sales]")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_mdx_first_last_child(spark, sf_dir):
    """<member>.FirstChild/.LastChild = the child level sliced to the
    min/max child key under the member (dim-side bounded lookup)."""
    first = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].[&1].FirstChild ON ROWS "
        "FROM [Sales]").collect()
    last = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].[&1].LastChild ON ROWS "
        "FROM [Sales]").collect()
    # oracle: nations of region 1, min/max key
    import duckdb
    keys = [r[0] for r in duckdb.sql(
        f"SELECT n_nationkey FROM '{sf_dir}/nation.parquet' "
        "WHERE n_regionkey = 1 ORDER BY 1").fetchall()]
    assert len(first) == 1 and first[0][0] == keys[0]
    assert len(last) == 1 and last[0][0] == keys[-1]
    # leaf level / missing member are clear 400s
    with pytest.raises(ParseError, match="leaf level"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Customer].[Customer].[&1].FirstChild ON ROWS "
                    "FROM [Sales]").collect()
    with pytest.raises(ParseError, match="not found"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Customer].[Region].[&99].FirstChild ON ROWS "
                    "FROM [Sales]").collect()
    # degenerate dims reject like .Parent (single-level degenerates
    # hit the leaf-level 400 first — also correct)
    with pytest.raises(ParseError, match="degenerate"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Time].[Year].[1996].FirstChild ON ROWS "
                    "FROM [Sales]").collect()


def test_mdx_new_forms_round_trip():
    """emit_mdx inverts compile_mdx for the round-7 forms too."""
    from mondrian_rest_spark.mdx import emit_mdx
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation"], nonempty=True,
                    tail=4, edge_child_of=[("[Customer].[Region].[&1]",
                                            False)])
    qm2 = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert qm2.tail == 4
    assert qm2.edge_child_of == [("[Customer].[Region].[&1]", False)]
    assert qm2.drilldown == qm.drilldown


def test_mdx_except_intersect(spark, sf_dir):
    """EXCEPT/INTERSECT fold member-set literals at parse time into a
    single set cut, on an axis or in the slicer."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Nation].[&3],[Customer].[Nation].[&7],"
        "[Customer].[Nation].[&9]}, {[Customer].[Nation].[&7]}) ON ROWS "
        "FROM [Sales]")
    assert qm.cut == ["{[Customer].[Nation].[&3],[Customer].[Nation].[&9]}"]
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "INTERSECT(UNION({[Customer].[Nation].[&3]}, "
        "{[Customer].[Nation].[&7],[Customer].[Nation].[&9]}), "
        "{[Customer].[Nation].[&7],[Customer].[Nation].[&21]}) ON ROWS "
        "FROM [Sales]")
    assert qm.cut == ["{[Customer].[Nation].[&7]}"]
    # slicer position: combinators restrict without drilling
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Line Status].[Line Status].Members ON ROWS "
        "FROM [Sales] WHERE (EXCEPT({[Customer].[Nation].[&3],"
        "[Customer].[Nation].[&7]}, {[Customer].[Nation].[&7]}))"
        ).collect()
    only3 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Line Status].[Line Status].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Nation].[&3])").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in only3]
    # empty results are a VALID zero-row axis (ADVICE r7: Mondrian
    # returns an empty set, not an error)
    qm_empty = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Nation].[&3]}, {[Customer].[Nation].[&3]}) "
        "ON ROWS FROM [Sales]")
    assert qm_empty.empty_set
    with pytest.raises(ParseError, match="share a level"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "EXCEPT({[Customer].[Nation].[&3]}, {[Customer].[Region].[&1]}) "
            "ON ROWS FROM [Sales]")


def test_mdx_virtual_cube_member_idioms(spark, sf_dir):
    """.Children/.Parent/.FirstChild/.LastChild on a virtual cube:
    resolved once against the conformed dimension, then applied as
    plain drill+cut per drilled-across base cube.  Key-order walks
    (LASTPERIODS/.Lag) resolve over the UNION member set (r11)."""
    kids = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY [Customer].[Region].[&2].Children "
        "ON ROWS FROM [Orders and Sales]").collect()
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].[&2].Children ON ROWS "
        "FROM [Sales]").collect()
    assert [r[0] for r in kids] == [r[0] for r in base]    # same nations
    assert all(len(r) == 4 for r in kids)                  # both measures
    for vr, br in zip(kids, base):
        assert vr[2] == br[2]                              # same revenue
    parent = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Order Count]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].[NATION_5].Parent ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert len(parent) == 1 and parent[0][1] == "AFRICA"
    # catalog-only .Children works even on the degenerate Time dim
    qtrs = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].[1996].Children ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert [r[0] for r in qtrs] == [1, 2, 3, 4]
    # .Lag virtualizes too (r11): key walk over the UNION member set
    lag1 = execute_mdx(spark, sf_dir, tpch.CATALOG,
                       "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                       "NON EMPTY [Time].[Year].[1997].Lag(1) ON ROWS "
                       "FROM [Orders and Sales]").collect()
    assert len(lag1) == 1 and lag1[0]["year"] == 1996
    with pytest.raises(ParseError, match="degenerate"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Time].[Year].[1996].FirstChild ON ROWS "
                    "FROM [Orders and Sales]").collect()


def test_mdx_ytd_running_total(spark, sf_dir):
    """SUM(YTD(), m): cumulative within the outermost drilled time
    level, ordered along the finer levels; identity at year grain;
    resets at each year boundary; 400 without a time drilldown."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[YTD Revenue] AS "
        "SUM(YTD(), [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[YTD Revenue]} "
        "ON COLUMNS, NON EMPTY [Time].[Year].Members * "
        "[Time].[Month].Members ON ROWS FROM [Sales]").collect()
    running, year = 0.0, None
    for r in rows:
        if r[0] != year:
            year, running = r[0], 0.0      # resets at the year boundary
        running += r[2]
        assert r[3] == pytest.approx(running, rel=1e-12), (r[0], r[1])
    # year-only grain: YTD == the measure itself
    yr = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[YTD Revenue] AS "
        "SUM(YTD(), [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[YTD Revenue]} "
        "ON COLUMNS, NON EMPTY [Time].[Year].Members ON ROWS "
        "FROM [Sales]").collect()
    assert all(r[1] == r[2] for r in yr)
    # composes with another axis dim: windows partition per member
    mixed = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[YTD Revenue] AS "
        "SUM(YTD(), [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[YTD Revenue]} "
        "ON COLUMNS, NON EMPTY [Line Status].[Line Status].Members * "
        "[Time].[Year].Members * [Time].[Month].Members ON ROWS "
        "FROM [Sales]").collect()
    run = {}
    for r in mixed:
        key = (r[0], r[1])                 # (linestatus, year)
        run[key] = run.get(key, 0.0) + r[3]
        assert r[4] == pytest.approx(run[key], rel=1e-12)
    # no time drilldown -> clear 400
    with pytest.raises(ParseError, match="needs a Time drilldown"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "WITH MEMBER [Measures].[YTD Revenue] AS "
                    "SUM(YTD(), [Measures].[Revenue]) "
                    "SELECT {[Measures].[YTD Revenue]} ON COLUMNS, "
                    "NON EMPTY [Customer].[Region].Members ON ROWS "
                    "FROM [Sales]").collect()
    # YTD virtualizes (r11): with only Year drilled the running total
    # equals the measure (no finer level), matching the base cube
    vt = execute_mdx(spark, sf_dir, tpch.CATALOG,
                     "WITH MEMBER [Measures].[YTD Revenue] AS "
                     "SUM(YTD(), [Measures].[Revenue]) "
                     "SELECT {[Measures].[Revenue], "
                     "[Measures].[YTD Revenue]} ON COLUMNS, "
                     "NON EMPTY [Time].[Year].Members ON ROWS "
                     "FROM [Orders and Sales]").collect()
    assert vt and all(r["ytd_revenue"] == r["revenue"] for r in vt)


def test_mdx_qtd_and_toppercent(spark, sf_dir):
    """SUM(QTD(), m) anchors at the Quarter level (resets per
    year+quarter, 400 without the full Year/Quarter context);
    TOPPERCENT keeps the minimal best-first prefix reaching pct% of
    the axis total."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[QTD Revenue] AS "
        "SUM(QTD(), [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[QTD Revenue]} "
        "ON COLUMNS, NON EMPTY [Time].[Year].Members * "
        "[Time].[Quarter].Members * [Time].[Month].Members ON ROWS "
        "FROM [Sales]").collect()
    run, key = 0.0, None
    for r in rows:
        if (r[0], r[1]) != key:
            key, run = ((r[0], r[1])), 0.0   # resets per (year, quarter)
        run += r[3]
        assert r[4] == pytest.approx(run, rel=1e-12)
    with pytest.raises(ParseError, match="Quarter"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "WITH MEMBER [Measures].[Q] AS "
                    "SUM(QTD(), [Measures].[Revenue]) "
                    "SELECT {[Measures].[Q]} ON COLUMNS, "
                    "NON EMPTY [Time].[Year].Members * "
                    "[Time].[Month].Members ON ROWS FROM [Sales]").collect()
    with pytest.raises(ParseError, match="Year"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "WITH MEMBER [Measures].[Y] AS "
                    "SUM(YTD(), [Measures].[Revenue]) "
                    "SELECT {[Measures].[Y]} ON COLUMNS, "
                    "NON EMPTY [Time].[Month].Members ON ROWS "
                    "FROM [Sales]").collect()

    top = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPPERCENT([Customer].[Nation].Members, 50, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Sales]").collect()
    total = sum(r[2] for r in full)
    kept = [r[2] for r in top]
    ordered = sorted((r[2] for r in full), reverse=True)
    # Mondrian returns TopPercent sorted desc by the measure (ADVICE
    # r7) — the axis itself must come back best-first, not just the
    # same membership
    assert kept == sorted(kept, reverse=True)
    assert sum(kept) >= 0.5 * total                     # reaches 50%
    assert sum(kept) - kept[-1] < 0.5 * total           # minimal prefix
    assert kept == ordered[:len(kept)]                  # best-first
    # ranking by a HIDDEN measure works (extras path)
    hid = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Quantity]) ON ROWS FROM [Sales]").collect()
    assert 0 < len(hid) < len(full)
    assert all(len(r) == 3 for r in hid)   # hidden measure not displayed
    with pytest.raises(ParseError, match="percentage"):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "TOPPERCENT([Customer].[Nation].Members, 0, "
                    "[Measures].[Revenue]) ON ROWS FROM [Sales]")


# --- nested set-function conflicts (ADVICE r7, medium) ---------------------
# Set functions flatten into ONE axis-global QueryModel; a nesting the
# planner's fixed stage order (filter -> top_percent -> order ->
# offset/limit -> tail) cannot represent must 400, never silently
# reorder (HEAD(TAIL(s, 5), 2) used to return the first 2 rows of the
# WHOLE axis instead of the first 2 of the last 5).

_NEST_BASE = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
              "NON EMPTY %s ON ROWS FROM [Sales]")
_NEST_SET = "[Customer].[Nation].Members"


@pytest.mark.parametrize("axis", [
    f"HEAD(TAIL({_NEST_SET}, 5), 2)",
    f"SUBSET(TAIL({_NEST_SET}, 5), 1, 2)",
    f"SUBSET(HEAD({_NEST_SET}, 3), 1, 5)",
    f"ORDER(HEAD({_NEST_SET}, 5), [Measures].[Revenue], BDESC)",
    f"TOPPERCENT(HEAD({_NEST_SET}, 5), 50, [Measures].[Revenue])",
    f"TOPPERCENT(TOPPERCENT({_NEST_SET}, 80, [Measures].[Revenue]), "
    "50, [Measures].[Revenue])",
    f"TOPCOUNT(ORDER({_NEST_SET}, [Measures].[Revenue], BASC), 3, "
    "[Measures].[Revenue])",
    f"TOPCOUNT(HEAD({_NEST_SET}, 5), 3, [Measures].[Revenue])",
    f"FILTER(HEAD({_NEST_SET}, 5), [Measures].[Revenue] > 0)",
    f"FILTER(TOPPERCENT({_NEST_SET}, 50, [Measures].[Revenue]), "
    "[Measures].[Revenue] > 0)",
    f"HEAD(HEAD({_NEST_SET}, 5), 2)",
    f"TAIL(TAIL({_NEST_SET}, 5), 2)",
    f"ORDER(ORDER({_NEST_SET}, [Measures].[Revenue], BASC), "
    "[Measures].[Quantity], BDESC)",
    f"DISTINCT(HEAD({_NEST_SET}, 5))",
])
def test_nested_set_function_conflict_is_400(axis):
    with pytest.raises(ParseError, match="cannot wrap"):
        compile_mdx(_NEST_BASE % axis)


@pytest.mark.parametrize("axis", [
    f"TAIL(SUBSET({_NEST_SET}, 1, 5), 2)",
    f"TAIL(HEAD({_NEST_SET}, 5), 2)",
    f"SUBSET(ORDER({_NEST_SET}, [Measures].[Revenue], BDESC), 1, 3)",
    f"HEAD(ORDER({_NEST_SET}, [Measures].[Revenue], BDESC), 3)",
    f"ORDER(FILTER({_NEST_SET}, [Measures].[Revenue] > 0), "
    "[Measures].[Revenue], BASC)",
    f"ORDER(TOPPERCENT({_NEST_SET}, 50, [Measures].[Revenue]), "
    "[Measures].[Revenue], BASC)",
    f"TOPPERCENT(FILTER({_NEST_SET}, [Measures].[Revenue] > 0), 50, "
    "[Measures].[Revenue])",
    f"DISTINCT(ORDER({_NEST_SET}, [Measures].[Revenue], BASC))",
    f"FILTER(ORDER({_NEST_SET}, [Measures].[Revenue], BASC), "
    "[Measures].[Revenue] > 0)",
])
def test_stage_compatible_nesting_still_compiles(axis):
    compile_mdx(_NEST_BASE % axis)


def test_tail_over_head_takes_last_of_first(spark, sf_dir):
    """TAIL(HEAD(s, 5), 2) = rows 4-5 of the hierarchical axis order —
    the planner applies limit before tail, matching this nesting."""
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        _NEST_BASE % _NEST_SET).collect()
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        _NEST_BASE % f"TAIL(HEAD({_NEST_SET}, 5), 2)").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in full[3:5]]


# --- empty set algebra (ADVICE r7) -----------------------------------------
# EXCEPT/INTERSECT that evaluates to the empty member set is a VALID
# result (Mondrian returns a zero-row axis), never a 400.

def test_empty_except_axis_returns_zero_rows(spark, sf_dir):
    df = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[AMERICA]}) ON ROWS FROM [Sales]")
    assert df.count() == 0
    # schema still carries the drilled level + the measure
    assert any(c.startswith("cust_region") for c in df.columns)


def test_empty_intersect_axis_returns_zero_rows(spark, sf_dir):
    df = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "INTERSECT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[EUROPE]}) ON ROWS FROM [Sales]")
    assert df.count() == 0


def test_empty_set_slicer_aggregates_over_nothing(spark, sf_dir):
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS FROM [Sales] "
        "WHERE (EXCEPT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[AMERICA]}))").collect()
    assert len(rows) == 1 and rows[0][0] is None


def test_empty_set_round_trips_through_emit():
    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[AMERICA]}) ON ROWS FROM [Sales]")
    assert qm.empty_set and qm.drilldown == ["Customer.Region"]
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.empty_set and back.drilldown == qm.drilldown


# --- measure-expression FILTER + set-aggregate WITH MEMBER (r8) ------------
# The raw-MDX tail the reference executes via Mondrian
# (api_helpers.rb:42-54): FILTER conditions over measure arithmetic,
# and AGGREGATE/SUM/AVG/... set aggregates beyond YTD/QTD.

def test_filter_measure_vs_measure(spark, sf_dir):
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Quantity]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 2100 * [Measures].[Quantity]) "
        "ON ROWS FROM [Sales]").collect()
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Quantity]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Sales]").collect()
    exp = [tuple(r) for r in full if r[2] > 2100 * r[3]]
    assert 0 < len(got) < len(full)
    assert [tuple(r) for r in got] == exp


def test_filter_expr_arithmetic_and_legacy_mix(spark, sf_dir):
    """Arithmetic conditions land in filter_exprs; measure-vs-literal
    stays on the REST-compatible qm.filter path; AND mixes both."""
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 2100 * [Measures].[Quantity] "
        "AND [Measures].[Line Count] > 100) ON ROWS FROM [Sales]")
    assert qm.filter == ["Line Count > 100"]
    assert qm.filter_exprs == ["{m:Revenue} > 2100 * {m:Quantity}"]
    # hidden measures (not displayed) feed the condition
    got = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert all(len(r) == 3 for r in got.collect())


def test_filter_expr_unknown_measure_is_400():
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Nope] > 2 * [Measures].[Revenue]) "
        "ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="unknown measure"):
        aggregate(None, "/nonexistent", tpch.CATALOG, qm)


def test_filter_expr_without_comparison_is_400():
    with pytest.raises(ParseError, match="comparison"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY FILTER([Customer].[Nation].Members, "
            "[Measures].[Revenue] + 1) ON ROWS FROM [Sales]")


def test_set_aggregate_matches_manual_sum(spark, sf_dir):
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev 95 96] AS "
        "AGGREGATE({[Time].[Year].[1995],[Time].[Year].[1996]}, "
        "[Measures].[Revenue]) "
        "SELECT {[Measures].[Rev 95 96]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS "
        "FROM [Sales]").collect()
    # oracle: same grain, slicer-cut to the two years
    cut = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE ({[Time].[Year].[1995],[Time].[Year].[1996]})").collect()
    exp = {(r[0], r[1]): r[2] for r in cut}
    assert len(got) == 5
    for r in got:
        assert r[2] == pytest.approx(exp[(r[0], r[1])], rel=1e-12)


def test_set_aggregate_member_value_semantics(spark, sf_dir):
    # Mondrian MAX(set, m) is the max of the members' CELL VALUES
    # (the largest yearly Quantity total), not the largest fact row
    yearly = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Quantity]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].Members ON ROWS FROM [Sales]").collect()
    vals = [r["sum_qty"] for r in yearly if 1995 <= r["year"] <= 1997]
    assert len(vals) == 3
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[MaxQ 95 97] AS "
        "MAX(([Time].[Year].[1995]:[Time].[Year].[1997]), "
        "[Measures].[Quantity]) "
        "SELECT {[Measures].[MaxQ 95 97]} ON COLUMNS FROM [Sales] "
        ).collect()
    assert rows[0][0] == max(vals)
    # AVG over member values = mean of the yearly totals
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[AvgQ 95 97] AS "
        "AVG(([Time].[Year].[1995]:[Time].[Year].[1997]), "
        "[Measures].[Quantity]) "
        "SELECT {[Measures].[AvgQ 95 97]} ON COLUMNS FROM [Sales] "
        ).collect()
    assert float(rows[0][0]) == pytest.approx(
        sum(float(v) for v in vals) / len(vals), rel=1e-12)
    # fast path sanity: MAX over a max measure = fact-side max
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[MaxQ raw] AS "
        "MAX(([Time].[Year].[1995]:[Time].[Year].[1997]), "
        "[Measures].[Max Quantity]) "
        "SELECT {[Measures].[MaxQ raw]} ON COLUMNS FROM [Sales] "
        ).collect()
    cut = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Max Quantity]} ON COLUMNS FROM [Sales] "
        "WHERE (([Time].[Year].[1995]:[Time].[Year].[1997]))").collect()
    assert rows[0][0] == cut[0][0]


def test_set_aggregate_median_stdev_per_axis_row(spark, sf_dir):
    # member-value MEDIAN/STDEV evaluate within EACH axis row's
    # context: per region, the median / sample stdev of its yearly
    # revenue totals
    import statistics
    per_year = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
        "[Time].[Year].Members) ON ROWS FROM [Sales]").collect()
    by_region: dict = {}
    for r in per_year:
        if 1995 <= r["year"] <= 1997:
            by_region.setdefault(r["cust_region_key"], []).append(
                float(r["revenue"]))
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Med Rev] AS "
        "MEDIAN(([Time].[Year].[1995]:[Time].[Year].[1997]), "
        "[Measures].[Revenue]) "
        "MEMBER [Measures].[Sd Rev] AS "
        "STDEV(([Time].[Year].[1995]:[Time].[Year].[1997]), "
        "[Measures].[Revenue]) "
        "SELECT {[Measures].[Med Rev], [Measures].[Sd Rev]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales]"
        ).collect()
    assert len(rows) == 5
    for r in rows:
        vals = sorted(by_region[r["cust_region_key"]])
        assert len(vals) == 3
        assert float(r["med_rev"]) == pytest.approx(vals[1], rel=1e-9)
        assert float(r["sd_rev"]) == pytest.approx(
            statistics.stdev(vals), rel=1e-9)


def test_mdx_dimension_and_cell_properties(spark, sf_dir):
    # level-property refs land in qm.properties = the REST
    # properties[] path; intrinsics and CELL PROPERTIES are accepted
    # (the payload always carries keys/captions/values)
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members "
        "DIMENSION PROPERTIES [Customer].[Customer].[Market Segment], "
        "MEMBER_CAPTION ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Region].[&2]) "
        "CELL PROPERTIES VALUE, FORMATTED_VALUE")
    assert qm.properties == ["[Customer].[Customer].[Market Segment]"]
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members "
        "DIMENSION PROPERTIES [Customer].[Customer].[Market Segment] "
        "ON ROWS FROM [Sales] WHERE ([Customer].[Region].[&2])")
    assert "c_mktsegment" in rows.columns
    got = rows.collect()
    assert got and all(r["c_mktsegment"] for r in got)


def test_mdx_properties_clause_rejects_unknown(spark, sf_dir):
    with pytest.raises(ParseError, match="intrinsic member property"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "[Customer].[Nation].Members "
            "DIMENSION PROPERTIES MEMBER_COLOR ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="cell property"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "[Customer].[Nation].Members ON ROWS FROM [Sales] "
            "CELL PROPERTIES BACK_COLOR")
    # a property of an undrilled dimension is the planner's 400
    # (reference api_spec 'properties of a dimension not in drilldown')
    with pytest.raises(ParseError, match="not in drilldown"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "[Customer].[Nation].Members "
            "DIMENSION PROPERTIES [Supplier].[Supplier].[Account Balance] "
            "ON ROWS FROM [Sales]").collect()


def test_mdx_property_filter(spark, sf_dir):
    # string + numeric property conditions AND a measure condition:
    # the property predicates restrict the axis member set dim-side,
    # the measure condition stays a HAVING
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        '.Properties("Market Segment") = "BUILDING" '
        "AND [Customer].[Customer].CurrentMember"
        '.Properties("Account Balance") > 0 '
        "AND [Measures].[Revenue] > 0) ON ROWS FROM [Sales]").collect()
    assert rows
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members "
        "DIMENSION PROPERTIES "
        "[Customer].[Customer].[Market Segment], "
        "[Customer].[Customer].[Account Balance] "
        "ON ROWS FROM [Sales]").collect()
    expect = {r["c_custkey"] for r in full
              if r["c_mktsegment"] == "BUILDING" and r["c_acctbal"] > 0
              and r["revenue"] > 0}
    assert {r["c_custkey"] for r in rows} == expect


def test_mdx_property_filter_dense_restricts_axis(spark, sf_dir):
    # without NON EMPTY the dense fill enumerates the axis set — the
    # property condition must restrict that enumeration, not just the
    # facts (excluded members are GONE, not null-filled)
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        '.Properties("Market Segment") = "MACHINERY") '
        "ON ROWS FROM [Sales]").collect()
    props = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members "
        "DIMENSION PROPERTIES "
        "[Customer].[Customer].[Market Segment] ON ROWS "
        "FROM [Sales]").collect()
    machinery = {r["c_custkey"] for r in props
                 if r["c_mktsegment"] == "MACHINERY"}
    # every MACHINERY customer appears (dense fill), every non-match
    # is gone — and only customers with orders can appear at all (the
    # member set is fact-derived), so the sets coincide
    assert {r["c_custkey"] for r in dense} == machinery


def test_mdx_virtual_rank(spark, sf_dir):
    # RANK over the drill-across frame matches the base-cube ranking
    # of the same measure (Revenue lives in Sales only)
    vrank = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev Rank] AS "
        "RANK([Customer].[Nation].CurrentMember, "
        "ORDER([Customer].[Nation].Members, [Measures].[Revenue], BDESC)) "
        "SELECT {[Measures].[Revenue], [Measures].[Rev Rank]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    brank = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev Rank] AS "
        "RANK([Customer].[Nation].CurrentMember, "
        "ORDER([Customer].[Nation].Members, [Measures].[Revenue], BDESC)) "
        "SELECT {[Measures].[Revenue], [Measures].[Rev Rank]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Sales]").collect()
    assert ({(r["cust_nation_key"], r["rev_rank"]) for r in vrank}
            == {(r["cust_nation_key"], r["rev_rank"]) for r in brank})
    # undrilled ranked level -> 400; unconformed dim -> 400
    with pytest.raises(ParseError, match="drill that level first"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "RANK([Customer].[Nation].CurrentMember, "
            "ORDER([Customer].[Nation].Members, [Measures].[Revenue], "
            "BDESC)) "
            "SELECT {[Measures].[R]} ON COLUMNS, "
            "NON EMPTY [Customer].[Region].Members ON ROWS "
            "FROM [Orders and Sales]").collect()
    with pytest.raises(ParseError, match="not conformed"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "RANK([Part].[Brand].CurrentMember, "
            "ORDER([Part].[Brand].Members, [Measures].[Revenue], BDESC)) "
            "SELECT {[Measures].[R]} ON COLUMNS, "
            "NON EMPTY [Customer].[Region].Members ON ROWS "
            "FROM [Orders and Sales]").collect()


def test_mdx_virtual_set_aggregate_forwarded(spark, sf_dir):
    # the forwarded conditional aggregate equals the base cube's own
    # set aggregate, joined across; each cube restricts by ITS fact
    # date (Sales: l_shipdate; Orders: o_orderdate)
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev 95] AS "
        "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
        "MEMBER [Measures].[Orders 95] AS "
        "([Measures].[Total Price], [Time].[Year].[1995]) "
        "SELECT {[Measures].[Rev 95], [Measures].[Orders 95]} "
        "ON COLUMNS, NON EMPTY [Customer].[Region].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    sales = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE ([Time].[Year].[1995])").collect()
    orders = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Total Price]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Orders] "
        "WHERE ([Time].[Year].[1995])").collect()
    srev = {r["cust_region_key"]: r["revenue"] for r in sales}
    otot = {r["cust_region_key"]: r["total_price"] for r in orders}
    assert len(rows) == 5
    for r in rows:
        assert r["rev_95"] == pytest.approx(srev[r["cust_region_key"]],
                                            rel=1e-12)
        assert r["orders_95"] == pytest.approx(otot[r["cust_region_key"]],
                                               rel=1e-12)


def test_mdx_nonempty_two_arg_prunes_by_named_measure(spark, sf_dir):
    # dense axes stay full under a non-axis cut; the 2-arg NONEMPTY
    # drops exactly the tuples whose NAMED measure is null
    where = ("FROM [Sales] WHERE ({[Part].[Brand].[&Brand#3],"
             "[Part].[Brand].[&Brand#5]})")
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CROSSJOIN([Customer].[Region].Members, [Time].[Year].Members) "
        "ON ROWS " + where).collect()
    pruned = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NONEMPTY(CROSSJOIN([Customer].[Region].Members, "
        "[Time].[Year].Members), [Measures].[Revenue]) ON ROWS " + where
        ).collect()
    keep = {(r["cust_region_key"], r["year"]) for r in dense
            if r["revenue"] is not None}
    assert {(r["cust_region_key"], r["year"]) for r in pruned} == keep
    assert len(dense) >= len(pruned)


def test_topcount_over_property_filter_keeps_filter(spark, sf_dir):
    # the infix-named-set fast path must not swallow an inner property
    # filter; the whole-axis form carries it through _merge_sub
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "TOPCOUNT(FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        '.Properties("Market Segment") = "BUILDING"), '
        "3, [Measures].[Revenue]) ON ROWS FROM [Sales]")
    assert qm.property_filters == [
        ("[Customer].[Customer].[Market Segment]", "=", "BUILDING")]
    assert qm.limit == 3 and qm.order == "Revenue"
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "TOPCOUNT(FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        '.Properties("Market Segment") = "BUILDING"), '
        "3, [Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        '.Properties("Market Segment") = "BUILDING") '
        "ON ROWS FROM [Sales]").collect()
    best = sorted(full, key=lambda r: (-r["revenue"], r["c_custkey"]))[:3]
    assert [r["c_custkey"] for r in rows] == [r["c_custkey"] for r in best]


def test_mdx_property_filter_rejections(spark, sf_dir):
    # level not drilled -> 400
    with pytest.raises(ParseError, match="not in the drilldown"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY FILTER([Customer].[Nation].Members, "
            "[Customer].[Customer].CurrentMember"
            '.Properties("Market Segment") = "BUILDING") '
            "ON ROWS FROM [Sales]").collect()
    # OR over a property condition -> 400 (axis vs cell semantics)
    with pytest.raises(ParseError, match="cannot appear under OR"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY FILTER([Customer].[Customer].Members, "
            "[Customer].[Customer].CurrentMember"
            '.Properties("Market Segment") = "BUILDING" '
            "OR [Measures].[Revenue] > 0) ON ROWS FROM [Sales]")
    # unknown property -> 400 from the catalog lookup
    with pytest.raises((ParseError, KeyError)):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY FILTER([Customer].[Customer].Members, "
            "[Customer].[Customer].CurrentMember"
            '.Properties("No Such Prop") = "X") '
            "ON ROWS FROM [Sales]").collect()


def test_set_aggregate_context_conflict_is_400(spark, sf_dir):
    # drilling the set's own dimension: Mondrian would REPLACE the
    # context; a conditional aggregate can only intersect -> 400
    with pytest.raises(ParseError, match="drills or slices"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
            "SELECT {[Measures].[R]} ON COLUMNS, "
            "NON EMPTY [Time].[Year].Members ON ROWS FROM [Sales]"
            ).collect()
    with pytest.raises(ParseError, match="drills or slices"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
            "SELECT {[Measures].[R]} ON COLUMNS FROM [Sales] "
            "WHERE ([Time].[Year].[1996])").collect()


def test_set_aggregate_over_calc_member_is_400(spark, sf_dir):
    with pytest.raises(ParseError, match="calculated member"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Avg Price]) "
            "SELECT {[Measures].[R]} ON COLUMNS FROM [Sales]").collect()


def test_set_aggregate_on_virtual_cube_forwards_to_owner(spark, sf_dir):
    # r8: no longer a 400 — the calc forwards to the owning base cube
    # (grand total: same value as the base cube's own set aggregate)
    vrows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[R] AS "
        "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
        "SELECT {[Measures].[R]} ON COLUMNS "
        "FROM [Orders and Sales]").collect()
    brows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[R] AS "
        "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
        "SELECT {[Measures].[R]} ON COLUMNS FROM [Sales]").collect()
    assert vrows[0][0] == brows[0][0]


def test_filter_expr_and_set_agg_round_trip():
    from mondrian_rest_spark.mdx import emit_mdx
    for mdx in [
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 2 * [Measures].[Quantity]) "
        "ON ROWS FROM [Sales]",
        "WITH MEMBER [Measures].[R] AS "
        "AGGREGATE({[Time].[Year].[1995],[Time].[Year].[1996]}, "
        "[Measures].[Revenue]) "
        "SELECT {[Measures].[R]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales]",
    ]:
        qm = compile_mdx(mdx)
        back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
        assert back.filter_exprs == qm.filter_exprs
        assert back.with_members == qm.with_members
        assert back.drilldown == qm.drilldown


def test_keys_globally_unique_declaration_skips_fact_probe():
    """Catalog-declared navigability (ADVICE r7 #3): with
    keys_globally_unique set, _degenerate_keys_repeat answers without
    ANY Spark job — proven by passing spark=None (a probe would
    crash immediately)."""
    from mondrian_rest_spark.planner import _degenerate_keys_repeat
    cube = tpch.SALES
    dim = cube.dimension("Time")
    hier = dim.default_hierarchy()
    assert _degenerate_keys_repeat(
        None, "/nope", cube, dim, hier, hier.level("Quarter")) is True
    assert _degenerate_keys_repeat(
        None, "/nope", cube, dim, hier, hier.level("Day")) is False
    # top level short-circuits regardless of declaration
    assert _degenerate_keys_repeat(
        None, "/nope", cube, dim, hier, hier.level("Year")) is False


def test_keys_repeat_probe_fallback_for_undeclared(spark, sf_dir):
    """Undeclared levels still use the data-derived probe."""
    import dataclasses
    from mondrian_rest_spark import plancache
    from mondrian_rest_spark.planner import _degenerate_keys_repeat
    cube = tpch.SALES
    dim = cube.dimension("Time")
    hier = dim.default_hierarchy()
    q = hier.level("Quarter")
    undeclared = dataclasses.replace(q, keys_globally_unique=None)
    hier2 = dataclasses.replace(
        hier, levels=tuple(undeclared if lv.name == "Quarter" else lv
                           for lv in hier.levels))
    plancache.invalidate()
    assert _degenerate_keys_repeat(
        spark, sf_dir, cube, dim, hier2, undeclared) is True


def test_filter_or_precedence_and_groups(spark, sf_dir):
    """FILTER boolean surface (r8): AND binds tighter than OR
    (Mondrian == SQL), explicit parens regroup, and the debug echo of
    an OR condition re-compiles to the same plan."""
    from mondrian_rest_spark.mdx import emit_mdx
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Quantity], "
        "[Measures].[Line Count]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales]"
        ).collect()

    mdx = ("SELECT {[Measures].[Revenue], [Measures].[Quantity], "
           "[Measures].[Line Count]} ON COLUMNS, "
           "NON EMPTY FILTER([Customer].[Nation].Members, "
           "[Measures].[Revenue] > 20000000 AND [Measures].[Quantity] > 1 "
           "OR [Measures].[Line Count] < 200) ON ROWS FROM [Sales]")
    got = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    exp = [tuple(r) for r in full
           if (r[2] > 20000000 and r[3] > 1) or r[4] < 200]
    assert [tuple(r) for r in got] == exp

    qm = compile_mdx(mdx)
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.filter_exprs == qm.filter_exprs

    # explicit parens regroup: A AND (B OR C) splits A to the legacy
    # filter path, keeps the group as one template
    qm2 = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 20000000 AND "
        "([Measures].[Quantity] > 35000 OR [Measures].[Line Count] < 200))"
        " ON ROWS FROM [Sales]")
    assert qm2.filter == ["Revenue > 20000000"]
    assert qm2.filter_exprs == \
        ["( {m:Quantity} > 35000 or {m:Line Count} < 200 )"]

    # arithmetic parens are NOT swallowed by the boolean-group try
    qm3 = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "([Measures].[Revenue] + 1) > 2) ON ROWS FROM [Sales]")
    assert qm3.filter_exprs == ["( {m:Revenue} + 1 ) > 2"]


def test_openingperiod_closingperiod(spark, sf_dir):
    """OPENINGPERIOD/CLOSINGPERIOD (r8): first/last descendant at ANY
    deeper level in hierarchy order — a one-row lexicographic dim-side
    walk over the level-key chain; one-step form equals
    .FirstChild/.LastChild; NOT in FILTER also covered here."""
    op1 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "OPENINGPERIOD([Customer].[Nation], [Customer].[Region].[&2]) "
        "ON ROWS FROM [Sales]").collect()
    fc = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].[&2].FirstChild ON ROWS FROM [Sales]"
        ).collect()
    assert [tuple(r) for r in op1] == [tuple(r) for r in fc]

    # deep walk: lexicographic (nation, customer) min/max inside region
    from mondrian_rest_spark.sources.registry import load_table
    import pyspark.sql.functions as F
    cust = (load_table(spark, sf_dir, "customer")
            .join(load_table(spark, sf_dir, "nation"),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .filter(F.col("n_regionkey") == 2)
            .orderBy("n_nationkey", "c_custkey"))
    first_key = cust.first()["c_custkey"]
    last_key = cust.orderBy(F.desc("n_nationkey"),
                            F.desc("c_custkey")).first()["c_custkey"]
    op = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "OPENINGPERIOD([Customer].[Customer], [Customer].[Region].[&2]) "
        "ON ROWS FROM [Sales]").collect()
    cl = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CLOSINGPERIOD([Customer].[Customer], [Customer].[Region].[&2]) "
        "ON ROWS FROM [Sales]").collect()
    assert len(op) == 1 and op[0][0] == first_key
    assert len(cl) == 1 and cl[0][0] == last_key

    # errors: degenerate time, dim mismatch, level not below, virtual
    with pytest.raises(ParseError, match="degenerate"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "OPENINGPERIOD([Time].[Month], [Time].[Year].[1997]) "
                    "ON ROWS FROM [Sales]").collect()
    with pytest.raises(ParseError, match="does not match"):
        compile_mdx("SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "OPENINGPERIOD([Part].[Part], "
                    "[Customer].[Region].[&2]) ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="BELOW"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "OPENINGPERIOD([Customer].[Region], "
                    "[Customer].[Nation].[&3]) ON ROWS FROM [Sales]"
                    ).collect()
    # r11: the deeper-target form virtualizes on table dims (the same
    # chain walk, resolved once against the shared conformed dim) —
    # matches the base cube's opening member with the other cube's
    # measure riding along
    vop = execute_mdx(spark, sf_dir, tpch.CATALOG,
                      "SELECT {[Measures].[Revenue], "
                      "[Measures].[Total Price]} ON COLUMNS, "
                      "OPENINGPERIOD([Customer].[Customer], "
                      "[Customer].[Region].[&2]) ON ROWS "
                      "FROM [Orders and Sales]").collect()
    bop = execute_mdx(spark, sf_dir, tpch.CATALOG,
                      "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                      "OPENINGPERIOD([Customer].[Customer], "
                      "[Customer].[Region].[&2]) ON ROWS "
                      "FROM [Sales]").collect()
    assert len(vop) == 1 and vop[0]["c_custkey"] == bop[0]["c_custkey"]
    assert vop[0]["total_price"] is not None

    # round-trip through the debug echo
    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CLOSINGPERIOD([Customer].[Customer], [Customer].[Region].[&2]) "
        "ON ROWS FROM [Sales]")
    assert compile_mdx(emit_mdx(tpch.CATALOG, qm)).edge_child_of == \
        qm.edge_child_of


def test_filter_not_condition(spark, sf_dir):
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "NOT [Measures].[Revenue] > 20000000) ON ROWS FROM [Sales]"
        ).collect()
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales]"
        ).collect()
    exp = [tuple(r) for r in full if not r[2] > 20000000]
    assert [tuple(r) for r in got] == exp
    # NOT over a parenthesized group
    got2 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "NOT ([Measures].[Revenue] > 20000000 OR "
        "[Measures].[Revenue] < 10000000)) ON ROWS FROM [Sales]"
        ).collect()
    exp2 = [tuple(r) for r in full
            if not (r[2] > 20000000 or r[2] < 10000000)]
    assert [tuple(r) for r in got2] == exp2


def test_siblings_navigation(spark, sf_dir):
    """.Siblings (r8): children of the member's parent (incl. self) =
    drill the member's own level + a dim-side parent cut; top-level
    members' siblings are all members of the level; degenerate and
    virtual paths stay clear 400s."""
    sib = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].[&3].Siblings ON ROWS "
        "FROM [Sales]").collect()
    # oracle: descendants of nation 3's region at the Nation level
    from mondrian_rest_spark.sources.registry import load_table
    import pyspark.sql.functions as F
    region = (load_table(spark, sf_dir, "nation")
              .filter(F.col("n_nationkey") == 3)
              .first()["n_regionkey"])
    desc = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        f"NON EMPTY DESCENDANTS([Customer].[Region].[&{region}], "
        "[Customer].[Nation]) ON ROWS FROM [Sales]").collect()
    assert [tuple(r) for r in sib] == [tuple(r) for r in desc]
    assert any(r[0] == 3 for r in sib)   # siblings include self

    roots = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].[&2].Siblings ON ROWS "
        "FROM [Sales]").collect()
    assert len(roots) == 5               # all top-level members

    with pytest.raises(ParseError, match="degenerate"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Time].[Quarter].[&2].Siblings ON ROWS "
                    "FROM [Sales]").collect()
    # r8: conformed-dim .Siblings virtualizes (resolved once against
    # the owning base cube's dim, exact for every drilled-across cube)
    virt = execute_mdx(spark, sf_dir, tpch.CATALOG,
                       "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                       "NON EMPTY [Customer].[Nation].[&3].Siblings "
                       "ON ROWS FROM [Orders and Sales]").collect()
    assert sorted(r[0] for r in virt) == [3, 8, 13, 18, 23]
    with pytest.raises(ParseError, match="not found"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "SELECT {[Measures].[Revenue]} ON COLUMNS, "
                    "[Customer].[Nation].[NOPE].Siblings ON ROWS "
                    "FROM [Sales]").collect()


def test_coalesceempty_formula(spark, sf_dir):
    """COALESCEEMPTY -> SQL coalesce (r8; reference foodmart.xml:359-366
    Profit Growth uses it over PREVMEMBER): the lag calc's leading-
    period null is exactly the empty cell it papers over.  Also pins
    the virtual-cube non-conformed-level 400 this test surfaced."""
    from mondrian_rest_spark.mdx import emit_mdx
    mdx = ("WITH MEMBER [Measures].[Safe Prev] AS "
           "COALESCEEMPTY([Measures].[Revenue Prev Period], 0) "
           "SELECT {[Measures].[Revenue Prev Period], "
           "[Measures].[Safe Prev]} ON COLUMNS, "
           "NON EMPTY [Time].[Year].Members ON ROWS FROM [Sales]")
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    assert rows[0][1] is None and rows[0][2] == 0     # leading period
    for r in rows[1:]:
        assert r[2] == r[1]
    qm = compile_mdx(mdx)
    assert compile_mdx(emit_mdx(tpch.CATALOG, qm)).with_members == \
        qm.with_members

    # r14 (VERDICT r13 #6): a drilled level whose aliases differ
    # across the base cubes (Day = ship_date vs order_date) CONFORMS
    # BY RENAME when the virtual cube declares it — each cube
    # aggregates at its own column, renamed to the first cube's alias
    # before the drill-across join (Mondrian's shared-dim-via-own-FK
    # semantics).  Undeclared mismatches keep the 400 (pinned in
    # test_virtual_alias_conformed_day).
    vday = execute_mdx(spark, sf_dir, tpch.CATALOG,
                       "SELECT {[Measures].[Revenue], "
                       "[Measures].[Total Price]} ON COLUMNS, "
                       "NON EMPTY [Time].[Day].Members ON ROWS "
                       "FROM [Orders and Sales]").limit(1).collect()
    assert vday and "ship_date" in vday[0].asDict()


def test_with_member_chains_inline_members(spark, sf_dir):
    """A WITH MEMBER may reference an EARLIER inline member (Mondrian
    chained definitions, r8); self-reference and forward reference
    stay clear 400s."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Double Rev] AS [Measures].[Revenue] * 2 "
        "MEMBER [Measures].[Double Plus] AS "
        "[Measures].[Double Rev] + 1 "
        "SELECT {[Measures].[Revenue], [Measures].[Double Plus]} "
        "ON COLUMNS, NON EMPTY [Customer].[Region].Members ON ROWS "
        "FROM [Sales]").collect()
    assert len(rows) == 5
    for r in rows:
        assert r[3] == pytest.approx(r[2] * 2 + 1, rel=1e-12)
    with pytest.raises(ParseError, match="references itself"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "WITH MEMBER [Measures].[Loop] AS "
                    "[Measures].[Loop] + 1 "
                    "SELECT {[Measures].[Loop]} ON COLUMNS FROM [Sales]"
                    ).collect()
    with pytest.raises(ParseError, match="unknown measure"):
        execute_mdx(spark, sf_dir, tpch.CATALOG,
                    "WITH MEMBER [Measures].[A] AS [Measures].[B] + 1 "
                    "MEMBER [Measures].[B] AS [Measures].[Revenue] "
                    "SELECT {[Measures].[A]} ON COLUMNS FROM [Sales]"
                    ).collect()


# --- r8 self-review fixes --------------------------------------------------

def test_topcount_infix_rejects_or_filter_inner():
    """The TOPCOUNT inline named-set branch must not silently drop an
    inner OR-filter (filter_exprs) or empty_set — the 'simple'
    disqualifier covers the r8 kwargs too."""
    with pytest.raises(ParseError):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "TOPCOUNT(FILTER([Customer].[Nation].Members, "
            "[Measures].[Revenue] > [Measures].[Quantity] "
            "OR [Measures].[Line Count] < 200), 3, [Measures].[Revenue]) "
            "* [Time].[Year].Members ON ROWS FROM [Sales]")
    with pytest.raises(ParseError):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "TOPCOUNT(EXCEPT({[Customer].[Nation].[&1]}, "
            "{[Customer].[Nation].[&1]}), 3, [Measures].[Revenue]) "
            "* [Time].[Year].Members ON ROWS FROM [Sales]")


def test_empty_slicer_keeps_dense_axis_full(spark, sf_dir):
    """empty AXIS set vs empty SLICER set are distinct: a dense query
    with an empty WHERE set keeps its full axis with null cells
    (Mondrian dense default); an empty axis set has zero tuples."""
    dense_slicer = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE (EXCEPT({[Time].[Year].[1995]}, {[Time].[Year].[1995]}))"
        ).collect()
    assert len(dense_slicer) == 5
    assert all(r[-1] is None for r in dense_slicer)
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE (EXCEPT({[Time].[Year].[1995]}, {[Time].[Year].[1995]}))")
    assert qm.empty_slicer and not qm.empty_set
    # round-trips through the echo as a slicer, not an axis set
    from mondrian_rest_spark.mdx import emit_mdx
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.empty_slicer and not back.empty_set

    dense_axis_empty = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[AMERICA]}) ON ROWS FROM [Sales]").collect()
    assert dense_axis_empty == []
    qm2 = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXCEPT({[Customer].[Region].[AMERICA]}, "
        "{[Customer].[Region].[AMERICA]}) ON ROWS FROM [Sales]")
    back2 = compile_mdx(emit_mdx(tpch.CATALOG, qm2))
    assert back2.empty_set and not back2.empty_slicer
    assert back2.drilldown == qm2.drilldown


def test_mixed_and_or_filter_echo_keeps_grouping(spark, sf_dir):
    """A simple AND condition next to an OR group must re-lex with the
    SAME grouping from the debug echo (the OR template carries its own
    parens; emit joins conditions with AND)."""
    from mondrian_rest_spark.mdx import emit_mdx
    mdx = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY FILTER(FILTER([Customer].[Nation].Members, "
           "[Measures].[Revenue] > 1000), [Measures].[Quantity] > 35000 "
           "OR [Measures].[Line Count] < 200) ON ROWS FROM [Sales]")
    qm = compile_mdx(mdx)
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.filter == qm.filter
    assert back.filter_exprs == qm.filter_exprs
    a = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    b = execute_mdx(spark, sf_dir, tpch.CATALOG,
                    emit_mdx(tpch.CATALOG, qm)).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_dense_idiom_axes_are_restricted(spark, sf_dir):
    """Dense mode enumerates the AXIS SET's members for the member
    idioms (.Children = 5 children, not all 25 nations), while WHERE
    cuts keep dense axes full (reference parity) — the axis_cuts
    restriction in _densify."""
    kids = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].[&2].Children ON ROWS FROM [Sales]"
        ).collect()
    assert len(kids) == 5
    sibs = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[&3].Siblings ON ROWS FROM [Sales]"
        ).collect()
    assert len(sibs) == 5
    opening = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "OPENINGPERIOD([Customer].[Customer], [Customer].[Region].[&2]) "
        "ON ROWS FROM [Sales]").collect()
    assert len(opening) == 1
    # WHERE cut: dense axis stays FULL with null cells (Mondrian
    # Members enumeration is not slicer-restricted)
    where = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Sales] "
        "WHERE ([Customer].[Region].[&2])").collect()
    assert len(where) == 25
    assert sum(1 for r in where if r[-1] is None) == 20


# --- r8 navigation: ANCESTOR / edge siblings / PERIODSTODATE / TOPSUM ------

def test_ancestor_drills_target_level(spark, sf_dir):
    """ANCESTOR(member, level) = the member's ancestor at the level
    (generalized .Parent), cut + drill at the ANCESTOR level."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ANCESTOR([Customer].[Customer].[&7], [Customer].[Region]) "
        "ON ROWS FROM [Sales]").collect()
    assert len(rows) == 1
    # ancestor at the member's own level is the member itself
    self_rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ANCESTOR([Customer].[Nation].[&3], [Customer].[Nation]) "
        "ON ROWS FROM [Sales]").collect()
    assert len(self_rows) == 1 and self_rows[0][0] == 3
    # degenerate time: globally-unique Day keys allow ANCESTOR; the
    # repeating Quarter keys are a clear 400
    with pytest.raises(ParseError):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "ANCESTOR([Time].[Quarter].[&2], [Time].[Year]) "
            "ON ROWS FROM [Sales]").collect()
    with pytest.raises(ParseError):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "ANCESTOR([Customer].[Region].[&2], [Customer].[Nation]) "
            "ON ROWS FROM [Sales]").collect()   # below the member


def test_edge_siblings(spark, sf_dir):
    """.FirstSibling/.LastSibling = first/last child of the member's
    parent; a top-level member's edge sibling spans the whole level."""
    first = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[&7].FirstSibling ON ROWS FROM [Sales]"
        ).collect()
    last = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[&7].LastSibling ON ROWS FROM [Sales]"
        ).collect()
    sibs = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].[&7].Siblings ON ROWS FROM [Sales]"
        ).collect()
    keys = [r[0] for r in sibs]
    assert len(first) == 1 and first[0][0] == min(keys)
    assert len(last) == 1 and last[0][0] == max(keys)
    # root level: the level's overall first member
    root_first = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Region].[&3].FirstSibling ON ROWS FROM [Sales]"
        ).collect()
    assert len(root_first) == 1 and root_first[0][0] == 0


def test_periodstodate_spans_period_opening_to_member(spark, sf_dir):
    """PERIODSTODATE(Year, day) = days from the year's first (existing)
    day through the member; the Quarter anchor narrows to the quarter."""
    year_ptd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "PERIODSTODATE([Time].[Year], [Time].[Day].[&1996-05-09]) "
        "ON ROWS FROM [Sales]").collect()
    days = [r[0] for r in year_ptd]
    assert all(d.year == 1996 for d in days)
    assert max(days).month == 5 and max(days).day == 9
    assert min(days).month == 1
    qtr_ptd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "PERIODSTODATE([Time].[Quarter], [Time].[Day].[&1996-05-09]) "
        "ON ROWS FROM [Sales]").collect()
    qdays = [r[0] for r in qtr_ptd]
    assert min(qdays).month == 4 and max(qdays) == max(days)
    assert set(qdays) < set(days)
    # anchor must be ABOVE the member's level
    with pytest.raises(ParseError):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "PERIODSTODATE([Time].[Day], [Time].[Day].[&1996-05-09]) "
            "ON ROWS FROM [Sales]").collect()


def test_topsum_keeps_minimal_prefix(spark, sf_dir):
    """TOPSUM keeps the minimal best-first prefix reaching the absolute
    value (including the crossing row), sorted by the ranking measure."""
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ORDER([Customer].[Nation].Members, [Measures].[Revenue], BDESC) "
        "ON ROWS FROM [Sales]").collect()
    vals = [float(r[-1]) for r in base]
    target = vals[0] + vals[1] + 1.0     # crosses inside the 3rd row
    got = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        f"SELECT {{[Measures].[Revenue]}} ON COLUMNS, "
        f"TOPSUM([Customer].[Nation].Members, {target}, "
        f"[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    assert len(got) == 3
    assert [tuple(r) for r in got] == [tuple(r) for r in base[:3]]
    bottom = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        f"SELECT {{[Measures].[Revenue]}} ON COLUMNS, "
        f"BOTTOMSUM([Customer].[Nation].Members, {vals[-1] + 1.0}, "
        f"[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    assert len(bottom) == 2
    # nesting TOPSUM over a paginated set is not representable -> 400
    with pytest.raises(ParseError):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "TOPSUM(HEAD([Customer].[Nation].Members, 5), 100, "
            "[Measures].[Revenue]) ON ROWS FROM [Sales]")


def test_nonempty_function_form(spark, sf_dir):
    """NONEMPTY(set) == the NON EMPTY axis prefix."""
    fn = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NONEMPTY([Customer].[Nation].Members) ON ROWS FROM [Sales]"
        ).collect()
    pfx = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales]"
        ).collect()
    assert [tuple(r) for r in fn] == [tuple(r) for r in pfx]


def test_mtd_wtd_running_totals(spark, sf_dir):
    """SUM(MTD(), m) anchors the running total at the Month level (it
    equals the measure when Day is not drilled below Month)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[MTD Rev] AS SUM(MTD(), [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[MTD Rev]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Time].[Year].Members, "
        "CROSSJOIN([Time].[Quarter].Members, "
        "[Time].[Month].Members)) ON ROWS FROM [Sales]").collect()
    assert rows and all(abs(float(r[-2]) - float(r[-1])) < 1e-6 for r in rows)
    # missing anchor level in the drill is a clear 400
    with pytest.raises(ParseError):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[MTD Rev] AS "
            "SUM(MTD(), [Measures].[Revenue]) "
            "SELECT {[Measures].[MTD Rev]} ON COLUMNS, "
            "[Time].[Year].Members ON ROWS FROM [Sales]").collect()


def test_measure_member_tuple_calc(spark, sf_dir):
    """([Measures].[M], <member>) = the measure in a fixed member
    context — compiles to the single-member set aggregate (conditional
    column in the shared groupBy); context conflicts stay a 400."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev 95] AS "
        "([Measures].[Revenue], [Time].[Year].[1995]) "
        "SELECT {[Measures].[Revenue], [Measures].[Rev 95]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales]"
        ).collect()
    agg = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Rev 95] AS "
        "AGGREGATE({[Time].[Year].[1995]}, [Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[Rev 95]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales]"
        ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in agg]
    # the fixed context must not collide with a Time drill/cut
    with pytest.raises(ParseError):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[Rev 95] AS "
            "([Measures].[Revenue], [Time].[Year].[1995]) "
            "SELECT {[Measures].[Rev 95]} ON COLUMNS, "
            "[Time].[Year].Members ON ROWS FROM [Sales]").collect()


def test_except_over_level_members(spark, sf_dir):
    """EXCEPT(<level>.Members, {...}) compiles to ONE exclusion cut
    (!{...}) pushed to the scans; the two-register parse-time algebra
    is closed under UNION/EXCEPT/INTERSECT with full-level operands."""
    from mondrian_rest_spark.mdx import emit_mdx
    mdx = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY EXCEPT([Customer].[Nation].Members, "
           "{[Customer].[Nation].[&3], [Customer].[Nation].[&7]}) "
           "ON ROWS FROM [Sales]")
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    keys = {r[0] for r in rows}
    assert len(rows) == 23 and not keys & {3, 7}
    qm = compile_mdx(mdx)
    assert qm.cut == ["!{[Customer].[Nation].[&3],[Customer].[Nation].[&7]}"]
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.cut == qm.cut and back.drilldown == qm.drilldown

    # slicer complement: every year except 1995
    sliced = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].Members ON ROWS FROM [Sales] "
        "WHERE (EXCEPT([Time].[Year].Members, {[Time].[Year].[1995]}))"
        ).collect()
    assert 1995 not in {r[0] for r in sliced} and len(sliced) >= 5

    # closure: double complement collapses to the positive member
    dd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY EXCEPT([Customer].[Nation].Members, "
        "EXCEPT([Customer].[Nation].Members, {[Customer].[Nation].[&3]})) "
        "ON ROWS FROM [Sales]").collect()
    assert len(dd) == 1 and dd[0][0] == 3

    # UNION with the full level == the full level (no cut)
    qm2 = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "UNION([Customer].[Nation].Members, {[Customer].[Nation].[&3]}) "
        "ON ROWS FROM [Sales]")
    assert qm2.cut == [] and qm2.drilldown == ["Customer.Nation"]


def test_with_set_member_literal_macro(spark, sf_dir):
    """WITH SET bodies that are member-set literals or set algebra
    expand as parse-time macros at each axis/slicer reference — the
    planner sees only drilldown+cut (the TOPCOUNT ranked form keeps
    its named-set machinery)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH SET [My Nations] AS {[Customer].[Nation].[&3], "
        "[Customer].[Nation].[&7]} "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [My Nations] ON ROWS FROM [Sales]").collect()
    assert sorted(r[0] for r in rows) == [3, 7]
    qm = compile_mdx(
        "WITH SET [My Nations] AS {[Customer].[Nation].[&3], "
        "[Customer].[Nation].[&7]} "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [My Nations] ON ROWS FROM [Sales]")
    assert qm.drilldown == ["Customer.Nation"] and not qm.with_sets
    # algebra body + slicer reference
    sliced = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH SET [Not Asia] AS EXCEPT([Customer].[Region].Members, "
        "{[Customer].[Region].[&2]}) "
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS FROM [Sales] "
        "WHERE ([Not Asia])").collect()
    assert 2 not in {r[0] for r in sliced} and len(sliced) == 4
    # a schema named set is shadowed only when names collide; unknown
    # bare names still 400 via the planner
    with pytest.raises((ParseError, KeyError)):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "[No Such Set] ON ROWS FROM [Sales]").collect()


def test_virtual_cube_new_navigation(spark, sf_dir):
    """ANCESTOR/.FirstSibling/.LastSibling virtualize on conformed
    dims: the idiom resolves once against the owning base cube's dim
    table, then drill-across runs on plain drilldown+cut."""
    anc = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, "
        "ANCESTOR([Customer].[Customer].[&7], [Customer].[Region]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert len(anc) == 1 and anc[0][-1] is not None
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "ANCESTOR([Customer].[Customer].[&7], [Customer].[Region]) "
        "ON ROWS FROM [Sales]").collect()
    assert anc[0][0] == base[0][0]       # same ancestor member key
    sib = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].[&7].LastSibling ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert len(sib) == 1 and sib[0][0] == 22
    # r11: ANCESTOR on a degenerate GLOBALLY-UNIQUE level virtualizes —
    # the lookup unions per-cube member sources under canonical
    # aliases, so only the TARGET level (Year) must be conformed even
    # though Day aliases differ per cube (ship_date vs order_date)
    vanc = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, "
        "NON EMPTY ANCESTOR([Time].[Day].[&1996-02-10], [Time].[Year]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert len(vanc) == 1 and vanc[0]["year"] == 1996
    assert vanc[0]["revenue"] is not None
    assert vanc[0]["total_price"] is not None
    # repeating degenerate keys stay a clear 400 (ambiguous reference)
    with pytest.raises(ParseError, match="repeat"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY ANCESTOR([Time].[Quarter].[&2], [Time].[Year]) "
            "ON ROWS FROM [Orders and Sales]").collect()
    # r14 (VERDICT r13 #6): PERIODSTODATE at Day virtualizes now that
    # Day is declared alias-conformed — the union member source and
    # the drill-across join both project the canonical (first cube's)
    # alias; previously the same non-conformed 400 as the drill
    ptd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "PERIODSTODATE([Time].[Year], [Time].[Day].[&1996-02-10]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert ptd
    days = [r["ship_date"] for r in ptd]
    import datetime as _dt
    assert min(days) >= _dt.date(1996, 1, 1)
    assert max(days) == _dt.date(1996, 2, 10)


def test_property_filter_same_dim_rank_generate(spark, sf_dir):
    """r11 (VERDICT r10 #8, was a 400): FILTER(<windowed set>, prop)
    on the window's own dimension DEFERS the predicate to after the
    rank/generate window — Mondrian ranks the UNFILTERED set, then the
    filter drops rows without re-ranking."""
    # GENERATE top-3 per nation, then keep BUILDING customers: the
    # surviving (nation, customer) pairs are exactly the unfiltered
    # top-3 that happen to be BUILDING — never a re-ranked 4th
    filt = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER(GENERATE([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 3, "
        "[Measures].[Revenue])), [Customer].[Customer].CurrentMember"
        ".Properties('Market Segment') = 'BUILDING') ON ROWS "
        "FROM [Sales]").collect()
    unfiltered = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 3, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    top3 = {(r["cust_nation_key"], r["c_custkey"]) for r in unfiltered}
    assert filt and all(
        (r["cust_nation_key"], r["c_custkey"]) in top3 for r in filt)
    assert len(filt) < len(unfiltered)   # the filter really dropped rows
    # the property column is not leaked into the output
    assert "c_mktsegment" not in filt[0].asDict()

    # RANK: rank values come from the UNFILTERED member set — the
    # filtered survivors keep their global ranks (gaps allowed)
    ranked = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[R] AS "
        "RANK([Customer].[Customer].CurrentMember, "
        "ORDER([Customer].[Customer].Members, [Measures].[Revenue], "
        "BDESC)) "
        "SELECT {[Measures].[Revenue], [Measures].[R]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember"
        ".Properties('Market Segment') = 'BUILDING') ON ROWS "
        "FROM [Sales]").collect()
    all_ranked = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[R] AS "
        "RANK([Customer].[Customer].CurrentMember, "
        "ORDER([Customer].[Customer].Members, [Measures].[Revenue], "
        "BDESC)) "
        "SELECT {[Measures].[Revenue], [Measures].[R]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members ON ROWS "
        "FROM [Sales]").collect()
    global_rank = {r["c_custkey"]: r["r"] for r in all_ranked}
    assert ranked and all(
        r["r"] == global_rank[r["c_custkey"]] for r in ranked)
    assert sorted(r["r"] for r in ranked) != \
        list(range(1, len(ranked) + 1))   # gaps prove no re-rank

    # dense mode stays a clear 400 (the member-frame restriction the
    # dense fill applies is pre-window by construction)
    with pytest.raises(ParseError, match="NON EMPTY"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[R] AS "
            "RANK([Customer].[Customer].CurrentMember, "
            "ORDER([Customer].[Customer].Members, [Measures].[Revenue],"
            " BDESC)) "
            "SELECT {[Measures].[R]} ON COLUMNS, "
            "FILTER([Customer].[Customer].Members, "
            "[Customer].[Customer].CurrentMember"
            ".Properties('Market Segment') = 'BUILDING') ON ROWS "
            "FROM [Sales]").collect()


def test_mdx_navigation_filter_parent_and_ancestor(spark, sf_dir):
    """FILTER over member navigation (VERDICT r8 #3): .Parent IS and
    ANCESTOR(...) IS compile to catalog-validated ancestor cuts."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Customer].[Nation].CurrentMember.Parent IS "
        "[Customer].[Region].[&2]) ON ROWS FROM [Sales]").collect()
    # nations of region 2 = keys 2, 7, 12, 17, 22 (keyed nation->region
    # mod 5 in the generator)
    assert {r[0] for r in rows} == {2, 7, 12, 17, 22}
    # ANCESTOR form two levels up, plus a measure conjunct
    deep = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "ANCESTOR([Customer].[Customer].CurrentMember, "
        "[Customer].[Region]) IS [Customer].[Region].[&1] "
        "AND [Measures].[Revenue] > 0) ON ROWS FROM [Sales]").collect()
    oracle = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Customer].Members ON ROWS FROM [Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert {r["c_custkey"] for r in deep} == {
        r["c_custkey"] for r in oracle if r["revenue"] > 0}


def test_mdx_navigation_filter_rejections(spark, sf_dir):
    # wrong level distance: .Parent must name EXACTLY one level up
    with pytest.raises(ParseError, match="Parent of level"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "FILTER([Customer].[Customer].Members, "
            "[Customer].[Customer].CurrentMember.Parent IS "
            "[Customer].[Region].[&2]) ON ROWS FROM [Sales]").collect()
    # the root level has no parent
    with pytest.raises(ParseError, match="root of hierarchy"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "FILTER([Customer].[Region].Members, "
            "[Customer].[Region].CurrentMember.Parent IS "
            "[Customer].[Region].[&2]) ON ROWS FROM [Sales]").collect()
    # ANCESTOR target must be a PROPER ancestor level
    with pytest.raises(ParseError, match="proper ancestor"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "FILTER([Customer].[Nation].Members, "
            "ANCESTOR([Customer].[Nation].CurrentMember, "
            "[Customer].[Nation]) IS [Customer].[Nation].[&3]) "
            "ON ROWS FROM [Sales]").collect()
    # the named ancestor level must match the member's level
    with pytest.raises(ParseError, match="does not match"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "FILTER([Customer].[Customer].Members, "
            "ANCESTOR([Customer].[Customer].CurrentMember, "
            "[Customer].[Region]) IS [Customer].[Nation].[&3]) "
            "ON ROWS FROM [Sales]").collect()


def test_mdx_exists_and_existing(spark, sf_dir):
    """EXISTS(set1, set2) same-dimension -> ancestor cut; unrelated
    dimension -> the spec's no-op; EXISTING -> no-op modifier (axis
    enumeration is already context-restricted)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY EXISTS([Customer].[Nation].Members, "
        "{[Customer].[Region].[&0],[Customer].[Region].[&3]}) "
        "ON ROWS FROM [Sales]").collect()
    assert {r[0] % 5 for r in rows} == {0, 3} and len(rows) == 10
    # unrelated dimension: set1 unchanged
    noop = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY EXISTS([Customer].[Region].Members, "
        "{[Part].[Brand].[&Brand#3]}) ON ROWS FROM [Sales]").collect()
    assert len(noop) == 5
    # set2 DEEPER than set1 hits the ascendant-drill 400 (documented)
    with pytest.raises(ParseError, match="ascendant"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "EXISTS([Customer].[Region].Members, "
            "{[Customer].[Nation].[&3]}) ON ROWS FROM [Sales]").collect()
    # EXISTING under a slicer equals the slicer's own restriction
    ex = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY EXISTING [Customer].[Nation].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Region].[&2])").collect()
    plain = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Region].[&2])").collect()
    assert [tuple(r) for r in ex] == [tuple(r) for r in plain]


def test_mdx_existing_dense_drops_out_of_context(spark, sf_dir):
    """VERDICT r9 #3: under DENSE axes (no NON EMPTY) EXISTING must
    DROP out-of-context members — a plain dense fill surfaces them as
    null-filled rows (the one place the subset could silently diverge
    from Mondrian)."""
    ex = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "EXISTING [Customer].[Nation].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Region].[&1])").collect()
    assert sorted(r["cust_nation_key"] for r in ex) == [1, 6, 11, 16, 21]
    # the dense fill itself still runs (cells may be null under a
    # tighter slicer) — only the MEMBER SET is context-restricted
    plain = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS "
        "FROM [Sales] WHERE ([Customer].[Region].[&1])").collect()
    assert len(plain) == 25
    assert sum(1 for r in plain if r["revenue"] is None) == 20


def test_mdx_crossjoin_function_form(spark, sf_dir):
    """VERDICT r9 #7: CROSSJOIN(a, b) is the explicit form of the
    infix `*` — identical rows, nestable, same operand guards."""
    fn = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
        "[Return Flag].[Return Flag].Members) ON ROWS FROM [Sales]"
    ).collect()
    infix = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members * "
        "[Return Flag].[Return Flag].Members ON ROWS FROM [Sales]"
    ).collect()
    assert sorted(map(tuple, fn)) == sorted(map(tuple, infix))
    nested = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN(CROSSJOIN([Customer].[Region].Members, "
        "[Return Flag].[Return Flag].Members), [Time].[Year].Members) "
        "ON ROWS FROM [Sales]").collect()
    assert len(nested) == 105
    # a TOPCOUNT operand compiles to an inline named set (the infix
    # parity rule); other set functions stay a clear 400
    with pytest.raises(ParseError, match="crossjoin operand"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY CROSSJOIN(ORDER([Customer].[Region].Members, "
            "[Measures].[Revenue], BDESC), [Time].[Year].Members) "
            "ON ROWS FROM [Sales]")


def test_mdx_strtomember_strtoset(spark, sf_dir):
    """VERDICT r9 #7: StrToMember/StrToSet with literal arguments are
    parse-time token splices; non-literal arguments 400."""
    via_str = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        'SELECT {[Measures].[Revenue]} ON COLUMNS, '
        'NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales] '
        'WHERE (StrToMember("[Customer].[Region].[&1]"))').collect()
    direct = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Nation].Members ON ROWS FROM [Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert sorted(map(tuple, via_str)) == sorted(map(tuple, direct))
    # StrToSet of a bare member coerces to a one-member set
    one = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        'SELECT {[Measures].[Revenue]} ON COLUMNS, '
        'NON EMPTY StrToSet("[Customer].[Region].[&2]") ON ROWS '
        'FROM [Sales]').collect()
    assert len(one) == 1 and one[0]["cust_region_key"] == 2
    with pytest.raises(ParseError, match="LITERAL"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY StrToMember([Customer].[Region].[&1]) ON ROWS "
            "FROM [Sales]")
    with pytest.raises(ParseError, match="member path"):
        compile_mdx(
            'SELECT {[Measures].[Revenue]} ON COLUMNS, NON EMPTY '
            'StrToMember("{[Customer].[Region].[&1]}") ON ROWS '
            'FROM [Sales]')


def test_mdx_generate_head_tail(spark, sf_dir):
    """General GENERATE (VERDICT r8 #6): HEAD/TAIL inner sets rank by
    hierarchy (key) order per parent — no measure involved."""
    head = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "HEAD([Customer].[Region].CurrentMember.Children, 2)) "
        "ON ROWS FROM [Sales]").collect()
    # nations of region r are keys {r, r+5, r+10, r+15, r+20}
    assert {(r[0], r[2]) for r in head} == {
        (r, r + 5 * i) for r in range(5) for i in (0, 1)}
    tail = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TAIL([Customer].[Region].CurrentMember.Children, 2)) "
        "ON ROWS FROM [Sales]").collect()
    assert {(r[0], r[2]) for r in tail} == {
        (r, r + 5 * i) for r in range(5) for i in (3, 4)}
    # HEAD defaults to n=1 (Mondrian)
    one = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "HEAD([Customer].[Region].CurrentMember.Children)) "
        "ON ROWS FROM [Sales]").collect()
    assert {(r[0], r[2]) for r in one} == {(r, r) for r in range(5)}


def test_mdx_generate_descendants_target(spark, sf_dir):
    """DESCENDANTS inner navigation: the per-parent window runs at a
    level DEEPER than the immediate child (Region -> Customer)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT(DESCENDANTS([Customer].[Region].CurrentMember, "
        "[Customer].[Customer]), 2, [Measures].[Revenue])) "
        "ON ROWS FROM [Sales]").collect()
    assert len(rows) == 10          # 5 regions x top-2 customers
    # per region, the kept customers are that region's top-2 by revenue
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Region].Members, "
        "[Customer].[Customer].Members) ON ROWS FROM [Sales]").collect()
    by_region: dict = {}
    for r in full:
        by_region.setdefault(r[0], []).append((r["revenue"],
                                               -r["c_custkey"]))
    for reg, got_rows in [(reg, [r for r in rows if r[0] == reg])
                          for reg in range(5)]:
        top2 = sorted(by_region[reg], reverse=True)[:2]
        assert {(-k) for _, k in top2} == {r["c_custkey"]
                                           for r in got_rows}


def test_mdx_generate_rejections(spark, sf_dir):
    for mdx, msg in [
        # DESCENDANTS target above the outer level
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Nation].Members, "
         "TOPCOUNT(DESCENDANTS([Customer].[Nation].CurrentMember, "
         "[Customer].[Region]), 2, [Measures].[Revenue])) "
         "ON ROWS FROM [Sales]", "must be below"),
        # unknown target level
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "TOPCOUNT(DESCENDANTS([Customer].[Region].CurrentMember, "
         "[Customer].[Bogus]), 2, [Measures].[Revenue])) "
         "ON ROWS FROM [Sales]", "unknown DESCENDANTS level"),
        # DESCENDANTS navigating another dimension
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "TOPCOUNT(DESCENDANTS([Part].[Brand].CurrentMember, "
         "[Part].[Part]), 2, [Measures].[Revenue])) "
         "ON ROWS FROM [Sales]", "outer"),
        # HEAD count < 1
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "HEAD([Customer].[Region].CurrentMember.Children, 0)) "
         "ON ROWS FROM [Sales]", "count must be >= 1"),
    ]:
        with pytest.raises(ParseError, match=msg):
            execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()


def test_mdx_nested_generate_flattens(spark, sf_dir):
    """Nested GENERATE (r12, VERDICT r11 #6): GENERATE(L1.Members,
    GENERATE(<nav to Lmid>, inner)) collapses EXACTLY to
    GENERATE(Lmid.Members, inner) — the outer iterates the full L1
    level and GENERATE unions with duplicate removal, so the union
    over every L1 member of its children/descendants at Lmid is
    Lmid's full member set.  Both nav forms, vs the flat oracle."""
    flat = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    nested = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "GENERATE([Customer].[Region].CurrentMember.Children, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue]))) ON ROWS FROM [Sales]").collect()
    assert sorted(map(tuple, nested)) == sorted(map(tuple, flat))
    # DESCENDANTS navigation form of the nested outer
    nested2 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "GENERATE(DESCENDANTS([Customer].[Region].CurrentMember, "
        "[Customer].[Nation]), "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue]))) ON ROWS FROM [Sales]").collect()
    assert sorted(map(tuple, nested2)) == sorted(map(tuple, flat))
    # echo canonicalizes to the flattened form and round-trips
    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "GENERATE([Customer].[Region].CurrentMember.Children, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue]))) ON ROWS FROM [Sales]")
    assert qm.generate_top[0] == "Customer.Nation"
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.generate_top == qm.generate_top


def test_mdx_set_functions_as_crossjoin_operands(spark, sf_dir):
    """r12: TOPPERCENT/TOPSUM/HEAD/TAIL in crossjoin position compile
    to inline COMPUTED named sets (the TOPCOUNT-as-operand machinery,
    kind-dispatched) instead of the old 400 — the selection must equal
    the sole-axis form's and values the plain crossjoin's."""
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    x = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Revenue]) * [Time].[Year].Members ON ROWS "
        "FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in x} == \
        {r["cust_nation_key"] for r in sole}
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Nation].Members, "
        "[Time].[Year].Members) ON ROWS FROM [Sales]").collect()
    vals = {(r["cust_nation_key"], r["year"]): r["revenue"]
            for r in full}
    for r in x:
        assert r["revenue"] == vals[(r["cust_nation_key"], r["year"])]
    # HEAD: the first-n members in hierarchy (key) order,
    # fact-independent
    h = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY HEAD([Customer].[Nation].Members, 3) * "
        "[Time].[Year].Members ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in h} == {0, 1, 2}
    # TAIL * TOPCOUNT: both selections evaluate pre-crossjoin
    tl = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TAIL([Customer].[Nation].Members, 2) * "
        "TOPCOUNT([Time].[Year].Members, 2, [Measures].[Revenue]) "
        "ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in tl} == {23, 24}
    yr = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Time].[Year].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    assert {r["year"] for r in tl} <= {r["year"] for r in yr}
    # TOPSUM: the selection equals the whole-axis TOPSUM's
    ts_sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPSUM([Customer].[Nation].Members, 50000000, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    ts = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPSUM([Customer].[Nation].Members, 50000000, "
        "[Measures].[Revenue]) * [Time].[Year].Members ON ROWS "
        "FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in ts} == \
        {r["cust_nation_key"] for r in ts_sole}
    # WITH SET forms of the new kinds work as plain axes too
    ws = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH SET [Big] AS TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Revenue]) SELECT {[Measures].[Revenue]} "
        "ON COLUMNS, NON EMPTY [Big] ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in ws} == \
        {r["cust_nation_key"] for r in sole}
    # SUBSET: the hierarchy-order slice, with and without a count
    sub2 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY SUBSET([Customer].[Nation].Members, 5, 3) * "
        "[Time].[Year].Members ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in sub2} == {5, 6, 7}
    sub3 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY SUBSET([Customer].[Nation].Members, 22) * "
        "[Time].[Year].Members ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in sub3} == {22, 23, 24}
    # a NON-simple inner set stays the documented 400 in infix position
    with pytest.raises(ParseError, match="cannot be crossjoined"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY TOPPERCENT(CROSSJOIN("
            "[Customer].[Region].Members, [Part].[Brand].Members), 30, "
            "[Measures].[Revenue]) * [Time].[Year].Members ON ROWS "
            "FROM [Sales]")


def test_mdx_dim_side_filter_as_crossjoin_operand(spark, sf_dir):
    """r12: FILTER with dim-side-only conditions (member property /
    member navigation) restricts its OWN dimension's member set, so it
    composes across * — selection equal to the sole-axis FILTER's;
    measure-condition FILTER keeps the 400 (it filters tuple cells,
    which IS axis-global)."""
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember.Properties"
        "(\"Market Segment\") = \"BUILDING\") ON ROWS "
        "FROM [Sales]").collect()
    x = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember.Properties"
        "(\"Market Segment\") = \"BUILDING\") * [Time].[Year].Members "
        "ON ROWS FROM [Sales]").collect()
    assert {r["c_custkey"] for r in x} == {r["c_custkey"] for r in sole}
    # navigation FILTER composes too: region 2's nations x years
    nav = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Customer].[Nation].CurrentMember.Parent IS "
        "[Customer].[Region].[&2]) * [Time].[Year].Members "
        "ON ROWS FROM [Sales]").collect()
    assert {r["cust_nation_key"] for r in nav} == {2, 7, 12, 17, 22}
    with pytest.raises(ParseError, match="cannot be crossjoined"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY FILTER([Customer].[Nation].Members, "
            "[Measures].[Revenue] > 1000000) * [Time].[Year].Members "
            "ON ROWS FROM [Sales]")


def test_mdx_virtual_nested_generate(spark, sf_dir):
    """Nested GENERATE virtualizes for free: the collapse happens at
    parse time, so the drill-across path sees the same generate_top a
    flat GENERATE produces — nested and flat must be row-identical on
    the virtual cube."""
    flat = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY GENERATE([Customer].[Nation].Members, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS "
        "FROM [Orders and Sales]").collect()
    nested = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY GENERATE([Customer].[Region].Members, "
        "GENERATE([Customer].[Region].CurrentMember.Children, "
        "TOPCOUNT([Customer].[Nation].CurrentMember.Children, 2, "
        "[Measures].[Revenue]))) ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert sorted(map(tuple, nested)) == sorted(map(tuple, flat))
    assert len(flat) > 0


def test_mdx_virtual_generate_x_topcount_axis(spark, sf_dir):
    """r12: GENERATE beside a TOPCOUNT-as-set axis on a VIRTUAL cube —
    the co-axis selection is rewritten into a member-set cut by the
    drill-across path, but Mondrian evaluates GENERATE's set in the
    SLICER context: the per-region selection must equal the sole-axis
    GENERATE's (before this fix the rank basis was the restricted
    marginal), and cell values stay restricted to the selected years."""
    mdx_x = ("SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
             "ON COLUMNS, NON EMPTY GENERATE([Customer].[Region].Members, "
             "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
             "[Measures].[Total Price])) * TOPCOUNT([Time].[Year].Members, "
             "2, [Measures].[Revenue]) ON ROWS FROM [Orders and Sales]")
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx_x).collect()
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Total Price])) ON ROWS "
        "FROM [Orders and Sales]").collect()
    yr = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Time].[Year].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    assert {(r["cust_region_key"], r["cust_nation_key"]) for r in rows} \
        == {(r["cust_region_key"], r["cust_nation_key"]) for r in sole}
    assert {r["year"] for r in rows} <= {r["year"] for r in yr}
    # values: the plain crossjoin restricted to both selections
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY CROSSJOIN([Customer].[Nation].Members, "
        "[Time].[Year].Members) ON ROWS "
        "FROM [Orders and Sales]").collect()
    want = {(r["cust_nation_key"], r["year"]):
            (r["revenue"], r["total_price"]) for r in full}
    for r in rows:
        assert (r["revenue"], r["total_price"]) == \
            want[(r["cust_nation_key"], r["year"])]


def test_mdx_virtual_ddltop_x_topcount_axis(spark, sf_dir):
    """r12: DRILLDOWNLEVELTOP beside a TOPCOUNT-as-set axis on a
    VIRTUAL cube ranks children in the SLICER context — the kept
    (parent, child) pairs must equal the sole-axis DDLTOP's, subtotal
    rows stay put, and values stay restricted to the selected years."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY DRILLDOWNLEVELTOP("
        "[Customer].[Region].Members, 2, [Measures].[Total Price]) * "
        "TOPCOUNT([Time].[Year].Members, 2, [Measures].[Revenue]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY DRILLDOWNLEVELTOP("
        "[Customer].[Region].Members, 2, [Measures].[Total Price]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    def pairs(rs):
        return {(r["cust_region_key"], r["cust_nation_key"])
                for r in rs if r["cust_nation_key"] is not None}
    assert pairs(rows) == pairs(sole)
    # every (region, year) keeps its subtotal row
    kept_years = {r["year"] for r in rows}
    for y in kept_years:
        subtotals = {r["cust_region_key"] for r in rows
                     if r["year"] == y and r["cust_nation_key"] is None}
        assert subtotals == {r["cust_region_key"] for r in rows
                             if r["year"] == y}


def test_mdx_generate_x_topcount_axis(spark, sf_dir):
    """r12 (the q101 argument applied to GENERATE): beside a
    TOPCOUNT-as-set axis, Mondrian evaluates both sets pre-crossjoin —
    the GENERATE per-parent selection must rank over the SLICER
    context (all years), not the TOPCOUNT-selected slice, while cell
    values stay restricted to the selected years."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) * TOPCOUNT([Time].[Year].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    nat = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    yr = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Time].[Year].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    want_nations = {(r["cust_region_key"], r["cust_nation_key"])
                    for r in nat}
    want_years = {r["year"] for r in yr}
    got_nations = {(r["cust_region_key"], r["cust_nation_key"])
                   for r in rows}
    assert got_nations == want_nations      # rank basis ignores years
    assert {r["year"] for r in rows} <= want_years
    # cell values equal the plain crossjoin restricted to both sets
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY CROSSJOIN([Customer].[Nation].Members, "
        "[Time].[Year].Members) ON ROWS FROM [Sales]").collect()
    want_vals = {(r["cust_nation_key"], r["year"]): r["revenue"]
                 for r in full}
    for r in rows:
        assert r["revenue"] == want_vals[(r["cust_nation_key"],
                                          r["year"])]


def test_mdx_nested_generate_rejections(spark, sf_dir):
    for mdx, msg in [
        # Lmid not the IMMEDIATE child of L1 in the .Children form
        # (the innermost CurrentMember reference would be vacuous)
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Time].[Year].Members, "
         "GENERATE([Time].[Year].CurrentMember.Children, "
         "TOPCOUNT([Time].[Month].CurrentMember.Children, 2, "
         "[Measures].[Revenue]))) ON ROWS FROM [Sales]",
         "immediate child"),
        # DESCENDANTS target at/above the nested outer level
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Nation].Members, "
         "GENERATE(DESCENDANTS([Customer].[Nation].CurrentMember, "
         "[Customer].[Region]), "
         "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
         "[Measures].[Revenue]))) ON ROWS FROM [Sales]",
         "must be below"),
        # nested nav must reference the outer level
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "GENERATE([Part].[Brand].CurrentMember.Children, "
         "TOPCOUNT([Part].[Part].CurrentMember.Children, 2, "
         "[Measures].[Revenue]))) ON ROWS FROM [Sales]",
         "navigate the outer level"),
        # innermost level jumps to another dimension
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "GENERATE([Customer].[Region].CurrentMember.Children, "
         "TOPCOUNT([Part].[Part].CurrentMember.Children, 2, "
         "[Measures].[Revenue]))) ON ROWS FROM [Sales]",
         "stay on dimension"),
        # more than one nesting level
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "GENERATE([Customer].[Region].Members, "
         "GENERATE([Customer].[Region].CurrentMember.Children, "
         "GENERATE([Customer].[Nation].CurrentMember.Children, "
         "TOPCOUNT([Customer].[Customer].CurrentMember.Children, 2, "
         "[Measures].[Revenue])))) ON ROWS FROM [Sales]",
         "nests at most one level"),
    ]:
        with pytest.raises(ParseError, match=msg):
            execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()


def test_mdx_drilldownlevel_mixed_depth_axis(spark, sf_dir):
    """DRILLDOWNLEVEL = one grouping-sets pass: parent subtotal rows
    (NULL child columns) interleave hierarchically before their
    children, and the subtotal value equals the sum of the children."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) "
        "ON ROWS FROM [Sales]").collect()
    assert len(rows) == 30              # 5 subtotals + 25 nations
    # hierarchical order: each region's subtotal row precedes its
    # children (asc nulls-first on the child key)
    for i in range(0, 30, 6):
        assert rows[i]["cust_nation_key"] is None
        kids = rows[i + 1: i + 6]
        assert all(r["cust_region_key"] == rows[i]["cust_region_key"]
                   for r in kids)
        assert abs(sum(r["revenue"] for r in kids)
                   - rows[i]["revenue"]) < 1e-6
    # DRILLDOWNMEMBER keeps subtotals for ALL parents, children only
    # under the listed ones
    ddm = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNMEMBER([Customer].[Region].Members, "
        "{[Customer].[Region].[&2]}) ON ROWS FROM [Sales]").collect()
    assert len(ddm) == 10               # 5 subtotals + region 2's kids
    assert {r["cust_region_key"] for r in ddm
            if r["cust_nation_key"] is not None} == {2}


def test_drilldownlevel_two_phase_plan_and_fallback(spark, sf_dir):
    """r14 optimization: with only mergeable measures (sum/count/min/
    max) the grouping-sets Expand runs over the FINEST-GRAIN aggregate,
    not the fact — the fact is scanned and partially aggregated once.
    A non-mergeable measure (count_distinct) falls back to the
    one-phase Expand over the fact.  Values are oracle-pinned
    (q74/q80/q100/q109...); this pins the plan shapes."""
    def plan(mdx):
        return execute_mdx(spark, sf_dir, tpch.CATALOG, mdx) \
            ._jdf.queryExecution().executedPlan().toString()

    p = plan("SELECT {[Measures].[Revenue]} ON COLUMNS, "
             "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) "
             "ON ROWS FROM [Sales]")
    # two-phase: Expand sits ABOVE a HashAggregate subtree (the fine
    # aggregate), i.e. some aggregate appears BELOW the Expand node
    below_expand = p.split("Expand", 1)[1]
    assert "Expand" in p
    assert "HashAggregate" in below_expand, p
    # fallback guard: a non-mergeable aggregator refuses the two-phase
    # form outright
    import pyspark.sql.functions as F
    from mondrian_rest_spark.planner import _gs_two_phase
    from mondrian_rest_spark.sources.registry import load_table
    li = load_table(spark, sf_dir, "lineitem")
    assert _gs_two_phase(
        li, [["l_returnflag"], []], ["l_returnflag"],
        [("med", "median", F.median("l_quantity").alias("med"), None)],
        []) is None
    # ...and a raw float sum (order-dependent) refuses it too
    assert _gs_two_phase(
        li, [["l_returnflag"], []], ["l_returnflag"],
        [("s", "sum", F.sum("l_quantity").alias("s"), None)],
        []) is None


def test_mdx_drilldownlevel_rejections(spark, sf_dir):
    for mdx, msg in [
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "NON EMPTY DRILLDOWNLEVEL([Customer].[Customer].Members) "
         "ON ROWS FROM [Sales]", "leaf level"),
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "NON EMPTY DRILLDOWNMEMBER([Customer].[Region].Members, "
         "{[Customer].[Nation].[&3]}) ON ROWS FROM [Sales]",
         "not on the drilled"),
        ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
         "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members, "
         "[Customer].[Nation]) ON ROWS FROM [Sales]", "1-arg"),
    ]:
        with pytest.raises(ParseError, match=msg):
            execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    # virtual cubes: only CONFORMED dims may carry a grouping-sets axis
    with pytest.raises(ParseError, match="conformed"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY DRILLDOWNLEVEL([Part].[Brand].Members) "
            "ON ROWS FROM [Orders and Sales]").collect()
    # virtual + gs_axes WITHOUT NON EMPTY densifies since r14 (VERDICT
    # r13 #1) — full coverage in test_mdx_virtual_dense_grouping_sets;
    # here just pin that it no longer 400s and fills every parent
    vd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVEL([Customer].[Region].Members) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert len(vd) == 30
    # TWO grouping-sets axes on the SAME dimension stay a 400
    with pytest.raises(ParseError, match="per dimension"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) * "
            "DRILLDOWNMEMBER([Customer].[Region].Members, "
            "{[Customer].[Region].[&1]}) ON ROWS FROM [Sales]")


def test_mdx_virtual_drilldownlevel(spark, sf_dir):
    """r10: DRILLDOWNLEVEL virtualizes — each base cube runs its own
    Expand pass and the drill-across full-outer join aligns subtotal
    rows (NULL child keys) null-safely, so each (parent) and (parent,
    child) tuple carries BOTH cubes' measures on one row."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY DRILLDOWNLEVEL("
        "[Customer].[Region].Members) ON ROWS "
        "FROM [Orders and Sales]").collect()
    subtot = [r for r in rows if r["cust_nation_key"] is None]
    child = [r for r in rows if r["cust_nation_key"] is not None]
    assert len(subtot) == 5 and len(child) == 25
    # no split rows: every subtotal carries both cubes' measures
    assert all(r["revenue"] is not None and r["total_price"] is not None
               for r in subtot)
    # per-measure consistency: subtotal == sum of its children
    for m in ("revenue", "total_price"):
        per_region = {}
        for r in child:
            per_region[r["cust_region_key"]] = \
                per_region.get(r["cust_region_key"], 0.0) + r[m]
        for r in subtot:
            assert abs(per_region[r["cust_region_key"]] - r[m]) < 1e-4
    # DRILLDOWNMEMBER virtualizes the same way (subset filter ran
    # per-cube on the grouping markers)
    sub = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY DRILLDOWNMEMBER("
        "[Customer].[Region].Members, {[Customer].[Region].[&2]}) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert len(sub) == 10      # 5 region subtotals + region 2's nations
    assert {r["cust_region_key"] for r in sub
            if r["cust_nation_key"] is not None} == {2}
    # VISUALTOTALS rides the same machinery: the visible total
    # reflects only the LISTED children, in BOTH cubes' measures
    vt = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY VISUALTOTALS({[Customer].[Region].[&1], "
        "[Customer].[Nation].[&1], [Customer].[Nation].[&6]}) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert len(vt) == 3
    parent = next(r for r in vt if r["cust_nation_key"] is None)
    kids = [r for r in vt if r["cust_nation_key"] is not None]
    for m in ("revenue", "total_price"):
        assert abs(parent[m] - sum(r[m] for r in kids)) < 1e-4


def test_mdx_drilldownlevel_two_dimensions(spark, sf_dir):
    """VERDICT r9 #4: grouping-sets axes compose across dimensions —
    k axes = 2^k sets in ONE Expand pass.  CROSSJOIN and infix forms
    are equivalent; shapes cover all four subtotal combinations."""
    mdx = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY CROSSJOIN(DRILLDOWNLEVEL("
           "[Customer].[Region].Members), "
           "DRILLDOWNLEVEL([Time].[Year].Members)) "
           "ON ROWS FROM [Sales]")
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    shapes = {}
    for r in rows:
        k = (r["cust_nation_key"] is None, r["quarter"] is None)
        shapes[k] = shapes.get(k, 0) + 1
    # (region subtotal, year subtotal) grain = 5 regions x 7 years
    assert shapes[(True, True)] == 35
    assert set(shapes) == {(True, True), (True, False),
                           (False, True), (False, False)}
    # the double-subtotal rows equal the plain region x year rollup
    plain = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members * [Time].[Year].Members "
        "ON ROWS FROM [Sales]").collect()
    want = {(r["cust_region_key"], r["year"]): r["revenue"]
            for r in plain}
    got = {(r["cust_region_key"], r["year"]): r["revenue"]
           for r in rows
           if r["cust_nation_key"] is None and r["quarter"] is None}
    assert got == want
    # infix form matches the CROSSJOIN function form
    infix = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) * "
        "DRILLDOWNLEVEL([Time].[Year].Members) ON ROWS "
        "FROM [Sales]").collect()
    key = lambda r: tuple((c, str(r[c])) for c in r.asDict())
    assert sorted(map(key, infix)) == sorted(map(key, rows))


def test_mdx_hierarchize_over_ranked_sets(spark, sf_dir):
    """General HIERARCHIZE (r9): wrapping a RANKED set keeps the
    rank's tuple selection but reverts display order to hierarchical;
    over a plain set it stays a no-op; debug echo round-trips."""
    ranked = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Customer].[Nation].Members, 5, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    wrapped = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY HIERARCHIZE(TOPCOUNT([Customer].[Nation].Members, "
        "5, [Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    assert {r[0] for r in wrapped} == {r[0] for r in ranked}   # same set
    assert [r[0] for r in wrapped] == sorted(r[0] for r in wrapped)
    assert [r[0] for r in ranked] != [r[0] for r in wrapped]  # order flips
    # plain HIERARCHIZE over a FILTER'd set: no-op wrapper, still legal
    plain = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY HIERARCHIZE(FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 0)) ON ROWS FROM [Sales]").collect()
    assert [r[0] for r in plain] == sorted(r[0] for r in plain)
    # ORDER'd set wrapped: selection order dropped for display
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY HIERARCHIZE(ORDER([Customer].[Nation].Members, "
        "[Measures].[Revenue], BDESC)) ON ROWS FROM [Sales]")
    assert qm.hierarchize and qm.order == "Revenue"
    from mondrian_rest_spark.mdx import emit_mdx
    echo = emit_mdx(tpch.CATALOG, qm)
    assert "HIERARCHIZE(" in echo
    qm2 = compile_mdx(echo)
    assert qm2.hierarchize and qm2.order == "Revenue"


def test_mdx_visualtotals(spark, sf_dir):
    """VISUALTOTALS: the parent subtotal equals the sum of the LISTED
    children, not the full member total."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY VISUALTOTALS({[Customer].[Region].[&1], "
        "[Customer].[Nation].[&1], [Customer].[Nation].[&6]}) "
        "ON ROWS FROM [Sales]").collect()
    assert len(rows) == 3
    assert rows[0]["cust_nation_key"] is None
    kids = rows[1:]
    assert {r["cust_nation_key"] for r in kids} == {1, 6}
    assert abs(rows[0]["revenue"]
               - sum(r["revenue"] for r in kids)) < 1e-6
    # the visible total differs from the FULL member total
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Customer].[Region].Members ON ROWS "
        "FROM [Sales]").collect()
    full_total = {r[0]: r["revenue"] for r in full}[1]
    assert rows[0]["revenue"] < full_total
    # malformed: child at the parent's own level / missing children
    with pytest.raises(ParseError, match="parent's own level"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY VISUALTOTALS({[Customer].[Region].[&1], "
            "[Customer].[Region].[&2]}) ON ROWS FROM [Sales]")
    with pytest.raises(ParseError, match="at least one child"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY VISUALTOTALS({[Customer].[Region].[&1]}) "
            "ON ROWS FROM [Sales]")


def test_mdx_visualtotals_wrong_parent_400(spark, sf_dir):
    """ADVICE r9 (medium): a child listed under a DIFFERENT parent is a
    400 — without the check the foreign child's facts leaked into its
    own parent's subtotal row (nation &2 lives under region &2, not
    &1), surfacing a spurious unlisted parent row while silently
    dropping the listed member."""
    with pytest.raises(ParseError, match="not children of"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY VISUALTOTALS({[Customer].[Region].[&1], "
            "[Customer].[Nation].[&1], [Customer].[Nation].[&2]}) "
            "ON ROWS FROM [Sales]").collect()
    # mixed right/wrong children also 400 (the wrong one is named)
    with pytest.raises(ParseError, match="2"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY VISUALTOTALS({[Customer].[Region].[&1], "
            "[Customer].[Nation].[&6], [Customer].[Nation].[&2]}) "
            "ON ROWS FROM [Sales]").collect()


def test_mdx_case_iif_compose_in_filter(spark, sf_dir):
    """CASE/IIF compose inside FILTER conditions for free (the
    condition parser shares _calc_tokens with WITH MEMBER formulas)."""
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Nation].Members, "
        "[Measures].[Revenue] > 10000000) ON ROWS FROM [Sales]").collect()
    for cond in (
        "CASE WHEN [Measures].[Revenue] > 10000000 THEN 1 ELSE 0 END = 1",
        "IIF([Measures].[Revenue] > 10000000, 1, 0) = 1",
    ):
        got = execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            f"NON EMPTY FILTER([Customer].[Nation].Members, {cond}) "
            "ON ROWS FROM [Sales]").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in base]


def test_mdx_drilldownleveltop_bottom(spark, sf_dir):
    """r10: DRILLDOWNLEVELTOP/BOTTOM — parents plus best/worst n
    children by measure; subtotal rows never consume a child slot;
    composes with a plain .Members axis via marginal ranking (r11);
    echo round-trips."""
    top = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    full = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) "
        "ON ROWS FROM [Sales]").collect()
    assert len(top) == 15          # 5 subtotals + 5 x top-2 children
    per, fper = {}, {}
    for r in top:
        if r["cust_nation_key"] is not None:
            per.setdefault(r["cust_region_key"], []).append(r["revenue"])
    for r in full:
        if r["cust_nation_key"] is not None:
            fper.setdefault(r["cust_region_key"], []).append(r["revenue"])
    for k in fper:
        assert sorted(per[k], reverse=True) == \
            sorted(fper[k], reverse=True)[:2]
    # subtotal rows match the full drilldown's (rank never ate them)
    assert {(r["cust_region_key"], r["revenue"]) for r in top
            if r["cust_nation_key"] is None} == \
        {(r["cust_region_key"], r["revenue"]) for r in full
         if r["cust_nation_key"] is None}
    # BOTTOM keeps each region's single worst nation
    bot = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELBOTTOM([Customer].[Region].Members, "
        "1, [Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    worst = {r["cust_region_key"]: r["revenue"] for r in bot
             if r["cust_nation_key"] is not None}
    for k in fper:
        assert abs(worst[k] - min(fper[k])) < 1e-9
    # echo round-trip
    from mondrian_rest_spark.mdx import emit_mdx
    qm = compile_mdx(
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]")
    assert compile_mdx(emit_mdx(tpch.CATALOG, qm)).gs_top == qm.gs_top
    # r11 (VERDICT r10 #5): DRILLDOWNLEVELTOP composes with a plain
    # .Members axis — the rank orders by the MARGINAL measure, so the
    # per-parent selection matches the sole-axis query for every
    # member of the other axis (Mondrian's pre-crossjoin evaluation)
    comp = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, "
        "2, [Measures].[Revenue]) * [Time].[Year].Members "
        "ON ROWS FROM [Sales]").collect()
    sole_children = {(r["cust_region_key"], r["cust_nation_key"])
                     for r in top if r["cust_nation_key"] is not None}
    comp_children = {(r["cust_region_key"], r["cust_nation_key"])
                     for r in comp if r["cust_nation_key"] is not None}
    assert comp_children == sole_children   # same selection per year
    years = {r["year"] for r in comp}
    assert len(years) > 1                   # the other axis enumerates
    # subtotal rows appear per year too
    assert any(r["cust_nation_key"] is None for r in comp)
    # non-additive rank measure in the composition stays a 400
    with pytest.raises(ParseError, match="additive"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, "
            "2, [Measures].[Median Price]) * [Time].[Year].Members "
            "ON ROWS FROM [Sales]").collect()
    # a second grouping-sets axis alongside gs_top stays a 400
    with pytest.raises(ParseError, match="cannot combine"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, "
            "2, [Measures].[Revenue]) * "
            "DRILLDOWNLEVEL([Time].[Year].Members) "
            "ON ROWS FROM [Sales]").collect()
    # r11: DRILLDOWNLEVELTOP virtualizes — the per-cube Expand passes
    # keep their grouping markers through the drill-across join, so
    # the post-join rank identifies subtotal rows by MARKER and the
    # per-parent selection matches the base cube's
    virt = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, "
        "2, [Measures].[Revenue]) ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert len(virt) == 15         # 5 subtotals + 5 x top-2 children
    assert {(r["cust_region_key"], r["cust_nation_key"])
            for r in virt} == {(r["cust_region_key"],
                                r["cust_nation_key"]) for r in top}
    assert all(r["total_price"] is not None for r in virt)
    # no grouping-marker columns leak into the output
    assert not [c for c in virt[0].asDict() if c.startswith("__gs")]
    # malformed count
    with pytest.raises(ParseError, match="count"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, "
            "0, [Measures].[Revenue]) ON ROWS FROM [Sales]")


def test_mdx_virtual_dense_axes(spark, sf_dir):
    """r10: the dense default applies to virtual cubes — previously a
    nonempty=false request silently behaved as NON EMPTY on the
    drill-across path.  All members appear; out-of-slicer tuples carry
    null cells in BOTH cubes' measures; EXISTING restricts the member
    frames; NON EMPTY behavior unchanged."""
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, [Customer].[Nation].Members ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert len(dense) == 25
    nulls = [r for r in dense if r["revenue"] is None]
    assert len(nulls) == 20
    assert all(r["total_price"] is None for r in nulls)
    ex = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, EXISTING [Customer].[Nation].Members ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert sorted(r["cust_nation_key"] for r in ex) == [1, 6, 11, 16, 21]
    ne = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY [Customer].[Nation].Members ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert len(ne) == 5
    # inline WITH MEMBER arithmetic computes (to null) on filled rows
    wm = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Ratio] AS "
        "[Measures].[Revenue] / [Measures].[Total Price] "
        "SELECT {[Measures].[Ratio]} ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert len(wm) == 25
    assert sum(1 for r in wm if r["ratio"] is None) == 20


def test_mdx_virtual_dense_grouping_sets(spark, sf_dir):
    """r14 (VERDICT r13 #1): dense DRILLDOWNLEVEL / DRILLDOWNMEMBER /
    DRILLDOWNLEVELTOP virtualize — the per-cube subs keep their
    F.grouping() markers through the drill-across join and _densify_gs
    fills the JOINED frame.  Previously a documented 400."""
    ddl = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, DRILLDOWNLEVEL([Customer].[Region].Members) "
        "ON ROWS FROM [Orders and Sales] "
        "WHERE ([Time].[Year].[&1996])").collect()
    # 5 region subtotals + 25 true (region, nation) pairs — never an
    # invented region×nation crossjoin (which would be 5 + 125)
    assert len(ddl) == 30
    subtotals = [r for r in ddl if r["cust_nation_key"] is None]
    assert len(subtotals) == 5
    pairs = {(r["cust_region_key"], r["cust_nation_key"])
             for r in ddl if r["cust_nation_key"] is not None}
    assert all(n % 5 == rk for rk, n in pairs)   # true snowflake pairs
    # a cell empty in one cube but not the other keeps the mixed nulls
    ne = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY DRILLDOWNLEVEL("
        "[Customer].[Region].Members) ON ROWS FROM [Orders and Sales] "
        "WHERE ([Time].[Year].[&1996])").collect()
    ne_vals = {(r["cust_region_key"], r["cust_nation_key"]):
               (r["revenue"], r["total_price"]) for r in ne}
    for r in ddl:
        k = (r["cust_region_key"], r["cust_nation_key"])
        if k in ne_vals:
            assert (r["revenue"], r["total_price"]) == ne_vals[k]
        else:
            assert r["revenue"] is None and r["total_price"] is None
    # DRILLDOWNMEMBER: only listed parents drill, every parent keeps
    # its subtotal row
    ddm = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, DRILLDOWNMEMBER([Customer].[Region].Members, "
        "{[Customer].[Region].[&1], [Customer].[Region].[&3]}) "
        "ON ROWS FROM [Orders and Sales] "
        "WHERE ([Time].[Year].[&1996])").collect()
    assert len(ddm) == 15
    assert sorted({r["cust_region_key"] for r in ddm
                   if r["cust_nation_key"] is not None}) == [1, 3]
    assert len([r for r in ddm if r["cust_nation_key"] is None]) == 5
    # dense DDLTOP: per-parent top-2 of the DENSE children by the
    # Orders-owned measure, nulls-last with the child-key tie-break
    top = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Total Price]) ON ROWS FROM [Orders and Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])").collect()
    assert len(top) == 15     # 5 subtotals + 5×2 children
    assert len([r for r in top if r["cust_nation_key"] is None]) == 5


def test_mdx_virtual_dense_generate(spark, sf_dir):
    """r14 (VERDICT r13 #1): dense GENERATE virtualizes — the dense
    fill builds ONE (parent, child) member-pair frame, and the
    per-parent rank orders nulls-last with the child-key tie-break."""
    gen = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Orders and Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])").collect()
    assert len(gen) == 10                    # 5 regions × top-2
    # true pairs only — an invented pair would break the mod-5 law
    assert all(r["cust_nation_key"] % 5 == r["cust_region_key"]
               for r in gen)
    # nonempty cells rank ahead of empty ones within each parent
    by_region: dict = {}
    for r in gen:
        by_region.setdefault(r["cust_region_key"], []).append(r)
    for rows in by_region.values():
        assert len(rows) == 2
        nonnull = [r for r in rows if r["revenue"] is not None]
        nulls = [r for r in rows if r["revenue"] is None]
        # empty slots fill by ascending child key after nonempty rows
        if len(nulls) == 2:
            ks = sorted(r["cust_nation_key"] for r in rows)
            assert ks[0] == min(ks)
        for nn in nonnull:
            assert nn is not None   # shape check; values vs oracle q112


def test_dense_fill_join_broadcasts(spark, sf_dir):
    """r14 (VERDICT r13 #4): the dense fill's left join against the
    aggregate broadcasts when the MEASURED dense cell count (already
    collected for the MAX_DENSE_CELLS guard) is small — Spark can't
    size a post-aggregation frame, so without the hint q109's plan
    kept one sort-merge join among dim-sized inputs.  Above
    DENSE_BROADCAST_ROWS the sort-merge fallback is the right call."""
    dense_ddltop = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])")
    plan = dense_ddltop._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # flat dense fill too
    dense_flat = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "[Customer].[Nation].Members ON ROWS FROM [Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])")
    plan2 = dense_flat._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan2


def test_virtual_alias_conformed_day(spark, sf_dir, duck):
    """r14 (VERDICT r13 #6): VirtualCube.alias_conformed_levels — the
    Day level's member-key alias differs per fact (ship_date vs
    order_date) but conforms by RENAME: each cube aggregates at its
    own column and the join lines up on the first cube's alias.
    Values per day equal each base cube's own day-grain aggregate;
    an UNDECLARED mismatch keeps the documented 400."""
    import dataclasses
    import datetime as _dt

    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY [Time].[Day].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    got = {r["ship_date"]: (r["revenue"], r["total_price"])
           for r in rows}
    exp_s = dict(duck.execute(
        "SELECT CAST(l_shipdate AS DATE), CAST(SUM(CAST("
        "l_extendedprice*(1-l_discount) AS DECIMAL(25,6))) AS DOUBLE) "
        "FROM lineitem GROUP BY 1").fetchall())
    exp_o = dict(duck.execute(
        "SELECT CAST(o_orderdate AS DATE), CAST(SUM(CAST(o_totalprice "
        "AS DECIMAL(25,6))) AS DOUBLE) FROM orders GROUP BY 1"
    ).fetchall())
    assert set(got) == set(exp_s) | set(exp_o)
    for d, (rev, tp) in got.items():
        assert rev == exp_s.get(d) and tp == exp_o.get(d)
    # a day cut still constrains each fact at its OWN column
    one = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY [Customer].[Region].Members ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])").collect()
    assert one
    # undeclared mismatches keep the 400 (the guard is opt-in)
    vc0 = dataclasses.replace(tpch.CATALOG.virtual_cubes[0],
                              alias_conformed_levels=())
    cat0 = dataclasses.replace(tpch.CATALOG, virtual_cubes=(vc0,))
    with pytest.raises(ParseError, match="not conformed"):
        execute_mdx(spark, sf_dir, cat0,
                    "SELECT {[Measures].[Revenue], "
                    "[Measures].[Total Price]} ON COLUMNS, "
                    "NON EMPTY [Time].[Day].Members ON ROWS "
                    "FROM [Orders and Sales]").collect()
    del _dt


def test_virtual_dense_degenerate_union_axis(spark, sf_dir, duck):
    """r14: a DENSE degenerate axis on a virtual cube enumerates the
    UNION of the owner cubes' member sets (Mondrian virtual
    hierarchy) — order-only days appear with null revenue, ship-only
    days with null total_price."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, [Time].[Day].Members ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&2])").collect()
    exp = {str(d) for (d,) in duck.execute(
        "SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem "
        "UNION SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders"
    ).fetchall()}
    ship_only = {str(d) for (d,) in duck.execute(
        "SELECT DISTINCT CAST(l_shipdate AS DATE) FROM lineitem"
    ).fetchall()}
    assert {str(r["ship_date"]) for r in rows} == exp
    assert ship_only < exp        # union genuinely adds order-only days


def test_mdx_virtual_hierarchize_over_ranked(spark, sf_dir):
    """r10: HIERARCHIZE over a ranked set on a VIRTUAL cube — the rank
    selects tuples, display order reverts to hierarchical (the flag
    was previously silently ignored on the drill-across path)."""
    h = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY HIERARCHIZE(TOPCOUNT("
        "[Customer].[Nation].Members, 5, [Measures].[Revenue])) "
        "ON ROWS FROM [Orders and Sales]").collect()
    ranked = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY TOPCOUNT([Customer].[Nation].Members, "
        "5, [Measures].[Revenue]) ON ROWS "
        "FROM [Orders and Sales]").collect()
    hk = [r["cust_nation_key"] for r in h]
    assert hk == sorted(hk)                      # hierarchical display
    assert {r["cust_nation_key"] for r in ranked} == set(hk)  # same set


def test_mdx_virtual_time_nav_family(spark, sf_dir):
    """r11 (VERDICT r10 #1): LASTPERIODS / .Lag/.Lead / WITH SET
    TOPCOUNT virtualize — member-key walks resolve over the UNION of
    the base cubes' member sets, WITH SET ranks on the measure's
    owning cube; each rewrites to cuts the drill-across path already
    handles, so the result equals the same explicit-cut query."""
    lp = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY LASTPERIODS(3, [Time].[Year].[&1997]) "
        "ON ROWS FROM [Orders and Sales]").collect()
    explicit = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY {[Time].[Year].[&1995], "
        "[Time].[Year].[&1996], [Time].[Year].[&1997]} ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert [tuple(r) for r in lp] == [tuple(r) for r in explicit]
    assert [r["year"] for r in lp] == [1995, 1996, 1997]

    lag = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Total Price]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].[&1997].Lag(2) ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert len(lag) == 1 and lag[0]["year"] == 1995

    ws = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH SET [TopN] AS TOPCOUNT([Customer].[Nation].Members, 5, "
        "[Measures].[Revenue]) "
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY [TopN] ON ROWS "
        "FROM [Orders and Sales]").collect()
    # oracle: TOPCOUNT evaluated on the owning base cube (Sales),
    # values from the drill-across query over those members
    top5 = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY TOPCOUNT([Customer].[Nation].Members, 5, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    assert sorted(r["cust_nation_key"] for r in ws) == \
        sorted(r["cust_nation_key"] for r in top5)
    assert all(r["total_price"] is not None for r in ws)

    # key-order navigation on repeating degenerate keys stays a 400
    with pytest.raises(ParseError, match="repeat"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY LASTPERIODS(2, [Time].[Quarter].[&3]) ON ROWS "
            "FROM [Orders and Sales]").collect()
    # dense LASTPERIODS: the same-level set cut restricts the axis,
    # so the window members appear even where one cube has no facts
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, LASTPERIODS(3, [Time].[Year].[&1997]) ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert [r["year"] for r in dense] == [1995, 1996, 1997]


def test_mdx_virtual_generate_topcount(spark, sf_dir):
    """r11: GENERATE(level.Members, TOPCOUNT(children)) virtualizes —
    the per-parent window runs on the JOINED drill-across frame, so
    the top-N per parent matches the owning base cube's ranking while
    the other cube's measure rides along."""
    gen = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS "
        "FROM [Orders and Sales]").collect()
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    assert [(r["cust_region_key"], r["cust_nation_key"]) for r in gen] \
        == [(r["cust_region_key"], r["cust_nation_key"]) for r in base]
    assert all(r["total_price"] is not None for r in gen)
    # dense GENERATE virtualizes since r14 (VERDICT r13 #1): the dense
    # fill builds ONE true (parent, child) pair frame — full coverage
    # in test_mdx_virtual_dense_generate; pin the shape here (5
    # regions x top-2, never an invented pair)
    dg = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert len(dg) == 10
    assert all(r["cust_nation_key"] % 5 == r["cust_region_key"]
               for r in dg)
    # GENERATE dim drilled elsewhere on the axis stays a 400
    # (planner-side guard; the MDX grammar already rejects set
    # functions as crossjoin operands, so drive the QueryModel)
    with pytest.raises(ParseError, match="same"):
        aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
            cube="Orders and Sales", measures=["Revenue"],
            drilldown=["Customer.Nation"], nonempty=True,
            generate_top=("Customer.Region", 2, "Revenue", False)))


def test_mdx_virtual_toppercent_topsum_tail(spark, sf_dir):
    """r11: TOPPERCENT/TOPSUM/TAIL virtualize as the same cumulative-
    prefix / inverted-order stages over the joined drill-across frame."""
    tp = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Total Price]} ON COLUMNS, "
        "TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Total Price]) ON ROWS "
        "FROM [Orders and Sales]").collect()
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Total Price]} ON COLUMNS, "
        "TOPPERCENT([Customer].[Nation].Members, 30, "
        "[Measures].[Total Price]) ON ROWS FROM [Orders]").collect()
    assert [tuple(r) for r in tp] == [tuple(r) for r in base]

    tail = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY TAIL([Customer].[Region].Members, 2) "
        "ON ROWS FROM [Orders and Sales]").collect()
    assert [r["cust_region_key"] for r in tail] == [3, 4]


def test_mdx_virtual_property_filter(spark, sf_dir):
    """r11: member-property FILTER virtualizes by forwarding the
    dim-side predicate to every base cube's sub-aggregate (conformed
    dims share tables), matching the same filter on each base cube."""
    virt = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember.Properties"
        "('Market Segment') = 'BUILDING') ON ROWS "
        "FROM [Orders and Sales]").collect()
    base = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember.Properties"
        "('Market Segment') = 'BUILDING') ON ROWS "
        "FROM [Sales]").collect()
    assert virt and {r["c_custkey"] for r in virt} >= \
        {r["c_custkey"] for r in base}
    # dense: the excluded members must NOT be re-added by the fill
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, FILTER([Customer].[Customer].Members, "
        "[Customer].[Customer].CurrentMember.Properties"
        "('Market Segment') = 'BUILDING') ON ROWS "
        "FROM [Orders and Sales] "
        "WHERE ([Customer].[Region].[&1])").collect()
    assert {r["c_custkey"] for r in dense} >= {r["c_custkey"] for r in virt}


def test_mdx_generate_two_dimensions(spark, sf_dir):
    """r11 (VERDICT r10 #3): one GENERATE per DIMENSION — two compose
    as independent per-parent windows ranking by the MARGINAL measure
    (Mondrian evaluates each set pre-crossjoin), so each dimension's
    selection is independent of the other's members."""
    from mondrian_rest_spark.mdx import emit_mdx

    mdx = ("SELECT {[Measures].[Revenue]} ON COLUMNS, "
           "NON EMPTY GENERATE([Customer].[Region].Members, "
           "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
           "[Measures].[Revenue])) * "
           "GENERATE([Time].[Year].Members, "
           "TOPCOUNT([Time].[Year].CurrentMember.Children, 2, "
           "[Measures].[Revenue])) ON ROWS FROM [Sales]")
    qm = compile_mdx(mdx)
    assert qm.generate_top is not None and len(qm.generate_more) == 1
    # emit/compile round-trip preserves both windows
    back = compile_mdx(emit_mdx(tpch.CATALOG, qm))
    assert back.generate_top == qm.generate_top
    assert back.generate_more == qm.generate_more
    rows = execute_mdx(spark, sf_dir, tpch.CATALOG, mdx).collect()
    # independence: each region's nations via sole-axis GENERATE
    nat = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    qtr = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Time].[Year].Members, "
        "TOPCOUNT([Time].[Year].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    want_nations = {(r["cust_region_key"], r["cust_nation_key"])
                    for r in nat}
    want_qtrs = {(r["year"], r["quarter"]) for r in qtr}
    got_nations = {(r["cust_region_key"], r["cust_nation_key"])
                   for r in rows}
    got_qtrs = {(r["year"], r["quarter"]) for r in rows}
    assert got_nations == want_nations
    assert got_qtrs == want_qtrs

    # same dimension twice stays a 400
    with pytest.raises(ParseError, match="per dimension"):
        compile_mdx(
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY GENERATE([Customer].[Region].Members, "
            "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
            "[Measures].[Revenue])) * "
            "GENERATE([Customer].[Region].Members, "
            "TOPCOUNT([Customer].[Region].CurrentMember.Children, 3, "
            "[Measures].[Revenue])) ON ROWS FROM [Sales]")
    # non-additive ranking measure in a composition stays a 400
    with pytest.raises(ParseError, match="additive"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY GENERATE([Customer].[Region].Members, "
            "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
            "[Measures].[Median Price])) * "
            "GENERATE([Time].[Year].Members, "
            "TOPCOUNT([Time].[Year].CurrentMember.Children, 2, "
            "[Measures].[Revenue])) ON ROWS FROM [Sales]").collect()
    # virtual cubes keep the one-GENERATE cap
    with pytest.raises(ParseError, match="virtual"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY GENERATE([Customer].[Region].Members, "
            "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
            "[Measures].[Revenue])) * "
            "GENERATE([Time].[Year].Members, "
            "TOPCOUNT([Time].[Year].CurrentMember.Children, 2, "
            "[Measures].[Revenue])) ON ROWS "
            "FROM [Orders and Sales]").collect()


def test_mdx_virtual_parallelperiod_and_ytd(spark, sf_dir):
    """r11: PARALLELPERIOD and SUM(YTD()/QTD(), m) WITH MEMBER run on
    VIRTUAL cubes — the windows apply to the joined drill-across
    frame's time axis (the UNION of the base cubes' member sets),
    mirroring the reference virtual cube's own time-navigating calc
    members (foodmart.xml:749-755 Profit Growth)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[Prev TP] AS "
        "([Measures].[Total Price], PARALLELPERIOD([Time].[Year], 1)) "
        "SELECT {[Measures].[Total Price], [Measures].[Prev TP], "
        "[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY [Time].[Year].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    assert rows[0]["prev_tp"] is None          # leading period empty
    for prev, cur in zip(rows, rows[1:]):
        assert cur["prev_tp"] == prev["total_price"]
    # cross-cube measure rides along unchanged
    assert all(r["revenue"] is not None for r in rows)

    ytd = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "WITH MEMBER [Measures].[YTD TP] AS "
        "SUM(YTD(), [Measures].[Total Price]) "
        "SELECT {[Measures].[Total Price], [Measures].[YTD TP]} "
        "ON COLUMNS, NON EMPTY [Time].[Year].Members * "
        "[Time].[Quarter].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    run: dict = {}
    for r in ytd:
        run[r["year"]] = run.get(r["year"], 0.0) + r["total_price"]
        assert abs(r["ytd_tp"] - run[r["year"]]) < 1e-6
    # QTD without the Quarter level drilled stays a clear 400
    with pytest.raises(ParseError, match="level"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "WITH MEMBER [Measures].[Q] AS "
            "SUM(QTD(), [Measures].[Total Price]) "
            "SELECT {[Measures].[Q]} ON COLUMNS, "
            "NON EMPTY [Time].[Year].Members ON ROWS "
            "FROM [Orders and Sales]").collect()


def test_mdx_virtual_generate_other_dim_marginal(spark, sf_dir):
    """r12 (ADVICE r11): GENERATE x another dimension's .Members on a
    VIRTUAL cube ranks by the per-(parent, child) MARGINAL — Mondrian
    evaluates the GENERATE set pre-crossjoin, so the selected members
    must not vary with the other dimension's keys — mirroring the
    base-cube composition (dense_rank over the marginal sum)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue], [Measures].[Total Price]} "
        "ON COLUMNS, NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) * [Time].[Year].Members ON ROWS "
        "FROM [Orders and Sales]").collect()
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY GENERATE([Customer].[Region].Members, "
        "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
        "[Measures].[Revenue])) ON ROWS "
        "FROM [Orders and Sales]").collect()
    # pre-crossjoin semantics: the (region, nation) selection is the
    # sole-axis selection, identical for every year
    want = {(r["cust_region_key"], r["cust_nation_key"]) for r in sole}
    got = {(r["cust_region_key"], r["cust_nation_key"]) for r in rows}
    assert got == want and len(want) == 10
    per_year: dict = {}
    for r in rows:
        per_year.setdefault(r["year"], set()).add(
            (r["cust_region_key"], r["cust_nation_key"]))
    assert all(s == want for s in per_year.values())
    # both base cubes' measures ride along on the joined frame
    assert any(r["total_price"] is not None for r in rows)
    # non-additive ranking measure in the composition: clear 400,
    # same argument as the base path (marginal != pre-crossjoin cell)
    with pytest.raises(ParseError, match="additive"):
        execute_mdx(
            spark, sf_dir, tpch.CATALOG,
            "SELECT {[Measures].[Revenue]} ON COLUMNS, "
            "NON EMPTY GENERATE([Customer].[Region].Members, "
            "TOPCOUNT([Customer].[Region].CurrentMember.Children, 2, "
            "[Measures].[Median Price])) * [Time].[Year].Members "
            "ON ROWS FROM [Orders and Sales]").collect()


def test_vc_union_src_mixed_backing(spark, sf_dir):
    """r12 (ADVICE r11): a conformed dim DEGENERATE on one base cube
    and TABLE-BACKED on another unions BOTH backings' members — the
    old early-return dropped the degenerate cube's members from the
    navigation member set.  Fixture: the table side (region, 5 keys)
    is a strict subset of the degenerate side (customer nation keys,
    25), so a lost union is observable as missing keys."""
    from mondrian_rest_spark.catalog import (Cube, Dimension, Hierarchy,
                                             Level, Measure, VirtualCube)
    from mondrian_rest_spark.planner import _vc_union_src

    lvl = Level("Nation", key="nk", key_alias="nk")
    deg = Cube(
        name="DegCube", fact="customer",
        dimensions=(Dimension("Nation", hierarchies=(Hierarchy(
            "Nation", levels=(Level("Nation", key="c_nationkey",
                                    key_alias="nk"),)),)),),
        measures=(Measure("Rows", "rows_m", "count", "c_custkey"),))
    tab = Cube(
        name="TabCube", fact="supplier",
        dimensions=(Dimension(
            "Nation",
            hierarchies=(Hierarchy("Nation", levels=(Level(
                "Nation", key="r_regionkey", key_alias="nk"),)),),
            tables=(("region", None, None),),
            fact_fk="s_nationkey", dim_pk="r_regionkey"),),
        measures=(Measure("Rows", "rows_m", "count", "s_suppkey"),))
    # degenerate owner FIRST: the old code appended its frame then
    # returned the table-backed select alone, losing keys 5..24
    union = _vc_union_src(spark, sf_dir, [deg, tab], "VC", "Nation",
                          None, ["Nation"])
    assert union.columns == ["nk"]
    keys = {r["nk"] for r in union.select("nk").distinct().collect()}
    assert keys == set(range(25))  # 0-4 from region, 0-24 from customer


def test_mdx_dense_grouping_sets(spark, sf_dir):
    """r12 (VERDICT r11 #1): Mondrian's dense DEFAULT (api.rb:137 —
    nonempty is opt-in) applies to DRILLDOWNLEVEL/DRILLDOWNMEMBER/
    VISUALTOTALS axes: the dense fill is the union of per-grouping-set
    dense frames (parent frame + true (parent, child) pairs), never an
    invented parent×child crossjoin."""
    dense = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVEL([Customer].[Region].Members) ON ROWS "
        "FROM [Sales]").collect()
    sub = [r for r in dense if r["cust_nation_key"] is None]
    kids = [r for r in dense if r["cust_nation_key"] is not None]
    assert len(sub) == 5 and len(kids) == 25
    # true pairs only: each nation under its real region
    assert {(r["cust_region_key"], r["cust_nation_key"] % 5)
            for r in kids} == {(i, i) for i in range(5)}
    # values agree with the NON EMPTY run on its rows
    ne = {(r["cust_region_key"], r["cust_nation_key"]): r["revenue"]
          for r in execute_mdx(
              spark, sf_dir, tpch.CATALOG,
              "SELECT {[Measures].[Revenue]} ON COLUMNS, "
              "NON EMPTY DRILLDOWNLEVEL([Customer].[Region].Members) "
              "ON ROWS FROM [Sales]").collect()}
    dv = {(r["cust_region_key"], r["cust_nation_key"]): r["revenue"]
          for r in dense}
    assert all(dv[k] == v for k, v in ne.items())
    # DRILLDOWNMEMBER dense: every parent keeps its subtotal row,
    # children only under the listed parents, empty cells null
    ddm = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNMEMBER([Customer].[Region].Members, "
        "{[Customer].[Region].[&2]}) ON ROWS FROM [Sales]").collect()
    assert len(ddm) == 10
    assert {r["cust_region_key"] for r in ddm
            if r["cust_nation_key"] is not None} == {2}
    # composes dense with a plain .Members axis: |mixed set| x |years|
    cross = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "CROSSJOIN(DRILLDOWNLEVEL([Customer].[Region].Members), "
        "[Time].[Year].Members) ON ROWS FROM [Sales]").collect()
    years = {r["year"] for r in cross}
    assert len(cross) == 30 * len(years) and len(years) >= 7
    # subtotal rows fill densely per year too
    assert sum(1 for r in cross if r["cust_nation_key"] is None) \
        == 5 * len(years)
    # dense VISUALTOTALS: the replaced set IS parent + listed children
    vt = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "VISUALTOTALS({[Customer].[Region].[&1], "
        "[Customer].[Nation].[&11], [Customer].[Nation].[&16]}) "
        "ON ROWS FROM [Sales]").collect()
    assert len(vt) == 3
    tot = next(r for r in vt if r["cust_nation_key"] is None)
    assert tot["revenue"] == sum(r["revenue"] for r in vt
                                 if r["cust_nation_key"] is not None)


def test_mdx_dense_ddltop(spark, sf_dir):
    """r13 (VERDICT r12 #4): DRILLDOWNLEVELTOP without NON EMPTY ranks
    the DENSE child axis — nonempty cells first (nulls last), then
    empty children by key ascending (the deterministic tie-break
    Mondrian leaves undefined); every parent keeps its subtotal row,
    null-filled when the slicer leaves it empty.  Same semantics the
    dense GENERATE path has always had (was a 400)."""
    rows = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])").collect()
    # 5 regions x (1 subtotal + 2 children) — dense keeps every parent
    assert len(rows) == 15
    subtot = [r for r in rows if r["cust_nation_key"] is None]
    assert len(subtot) == 5
    kids = [r for r in rows if r["cust_nation_key"] is not None]
    by_region = {}
    for r in kids:
        by_region.setdefault(r["cust_region_key"], []).append(r)
    assert all(len(v) == 2 for v in by_region.values())
    # within each region, no empty child may outrank a nonempty one
    for rs in by_region.values():
        vals = [r["total_price"] if "total_price" in r.asDict()
                else r["revenue"] for r in rs]
        if vals[0] is None:
            assert vals[1] is None or True  # order is post-hierarchize
    # the NON EMPTY form stays a subset of the dense one
    ne = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "NON EMPTY DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales] "
        "WHERE ([Time].[Day].[&1996-02-10])").collect()
    dense_keys = {(r["cust_region_key"], r["cust_nation_key"])
                  for r in rows if r["revenue"] is not None}
    ne_keys = {(r["cust_region_key"], r["cust_nation_key"]) for r in ne}
    assert ne_keys <= dense_keys | {(r["cust_region_key"], None)
                                    for r in rows}


def test_mdx_dense_ddltop_beside_axis(spark, sf_dir):
    """r13: dense DDLTOP beside another drilled dimension ranks by the
    per-(parent, child) MARGINAL over the dense frame (F.sum ignores
    null cells, so the marginal equals the nonempty marginal).  With
    no slicer the marginal over years equals the overall total, so the
    SELECTED (parent, child) set must equal the sole-axis dense
    selection; every (kept pair x year) tuple and every (parent
    subtotal x year) tuple surfaces, empty cells null."""
    two_d = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) * [Time].[Year].Members "
        "ON ROWS FROM [Sales]").collect()
    sole = execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Revenue]} ON COLUMNS, "
        "DRILLDOWNLEVELTOP([Customer].[Region].Members, 2, "
        "[Measures].[Revenue]) ON ROWS FROM [Sales]").collect()
    sel_2d = {(r["cust_region_key"], r["cust_nation_key"])
              for r in two_d if r["cust_nation_key"] is not None}
    sel_sole = {(r["cust_region_key"], r["cust_nation_key"])
                for r in sole if r["cust_nation_key"] is not None}
    assert sel_2d == sel_sole
    years = {r["year"] for r in two_d}
    n_pairs = len(sel_2d)
    n_sub = len({r["cust_region_key"] for r in two_d})
    assert len(two_d) == (n_pairs + n_sub) * len(years)
