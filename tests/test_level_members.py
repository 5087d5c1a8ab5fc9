"""Held level members (plan-time cache kind ``level_members``): dense
axes, the dense guard, cut validation and member listings read a
level's members once per data version; the rollup router serves a
coarser level of a covered hierarchy through the held child->ancestor
rows."""

import json
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from mondrian_rest_spark import planner as P
from mondrian_rest_spark import plancache, tpch
from mondrian_rest_spark.api import create_app
from mondrian_rest_spark.planner import aggregate
from mondrian_rest_spark.plans.rollup import RollupManager
from mondrian_rest_spark.query import QueryModel
from mondrian_rest_spark.sources.registry import load_table

NATION_YEAR = ("Customer.Nation", "Time.Year")


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("level-members-test", "level-members-test")
    try:
        before = set(st.getJobIdsForGroup("level-members-test"))
        out = fn()
        return out, len(set(st.getJobIdsForGroup("level-members-test"))
                        - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _scanned_tables(df) -> set:
    """Table files read by the physical plan's file scans (a persisted
    rollup is an in-memory scan, not a file scan)."""
    out = set()
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            paths = leaf.relation().location().rootPaths()
            for j in range(paths.size()):
                out.add(paths.apply(j).getName())
    return out


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _manager(spark, sf_dir):
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", NATION_YEAR)
    return mgr


def _drop_authority(spark, sf_dir, mgr):
    key = (spark.sparkContext.applicationId, sf_dir, "Sales")
    if P._NS_ROUTERS.get(key) is mgr:
        P._NS_ROUTERS.pop(key)


@pytest.fixture(scope="module")
def routed(spark, sf_dir):
    """A routed app over the shared fixtures (the app registers its
    manager as the cube's evaluation authority)."""
    mgr = _manager(spark, sf_dir)
    app = create_app(tpch.CATALOG, sf_dir, spark=spark, flush_secret="s",
                     rollup_manager=mgr)
    yield mgr, app.test_client()
    _drop_authority(spark, sf_dir, mgr)


def _copy(sf_dir, tmp_path):
    dst = tmp_path / "data"
    shutil.copytree(sf_dir, dst)
    return str(dst)


def test_routed_dense_query_runs_no_plan_time_job(spark, routed):
    mgr, _ = routed
    warm = QueryModel(cube="Sales", measures=["Quantity"],
                      drilldown=list(NATION_YEAR), nonempty=False,
                      cut=["{[Time].[Year].[1995],[Time].[Year].[1996]}"])
    mgr.route(warm)[0].collect()
    qm = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                    drilldown=list(NATION_YEAR), nonempty=False,
                    cut=["{[Time].[Year].[1998],[Time].[Year].[2000]}"])
    (df, source), jobs = _jobs(spark, lambda: mgr.route(qm))
    assert source == "nation_year"
    assert jobs == 0
    assert "lineitem.parquet" not in _scanned_tables(df)
    rows = df.collect()
    assert rows and {r["year"] for r in rows} == {1998, 2000}


def test_repeated_member_list_runs_no_job(spark, routed):
    _, client = routed
    url = ("/cubes/Sales/dimensions/Customer/levels/Nation/members"
           "?children=true")
    first = client.get(url)
    assert first.status_code == 200
    second, jobs = _jobs(spark, lambda: client.get(url))
    assert second.status_code == 200 and jobs == 0
    assert second.get_json() == first.get_json()
    assert len(first.get_json()["members"]) == 25


def test_region_routes_through_nation_rows(spark, sf_dir, routed):
    _, client = routed
    cases = [
        ([("drilldown[]", "Customer.Region")], "nonempty", "false"),
        ([("drilldown[]", "Customer.Region")], "nonempty", "true"),
        ([("drilldown[]", "Customer.Region"),
          ("cut[]", "[Customer].[Region].[&1]")], "nonempty", "false"),
        ([("drilldown[]", "Customer.Region")], "parents", "true"),
    ]
    for params, flag, value in cases:
        q = (params + [("drilldown[]", "Time.Year"),
                       ("measures[]", "Quantity"), ("measures[]", "Revenue"),
                       (flag, value), ("debug", "true")])
        r = client.get("/cubes/Sales/aggregate", query_string=q)
        assert r.status_code == 200, r.get_json()
        body = r.get_json()
        assert body["source"] == "nation_year", q
        qm = QueryModel(
            cube="Sales", measures=["Quantity", "Revenue"],
            drilldown=[v for k, v in q if k == "drilldown[]"],
            cut=[v for k, v in q if k == "cut[]"],
            nonempty=not (flag == "nonempty" and value == "false"),
            parents=flag == "parents")
        base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
        routed_df, src = routed[0].route(qm)
        assert src == "nation_year"
        assert _rows(routed_df) == _rows(base), q
        if flag == "nonempty" and value == "false" and len(params) == 1:
            assert len(base.collect()) == 5 * 7      # dense 5 x 7


def test_region_routing_keeps_base_for_properties(routed):
    mgr, _ = routed
    qm = QueryModel(cube="Sales", measures=["Quantity"],
                    drilldown=["Customer.Region", "Time.Year"],
                    caption=["Customer.Region.Region"])
    assert mgr._choose(qm) is None


def _drill(cube, dim_name, level_name):
    dim = cube.dimension(dim_name)
    hier = dim.default_hierarchy()
    level = hier.level(level_name)
    return P.ResolvedDrill(dim, hier, level, [level])


def test_one_held_set_per_member_set(spark, sf_dir):
    # property order and the cube a conformed dimension is declared on
    # do not change the members, so they share one held set
    sales, orders = tpch.CATALOG.cube("Sales"), tpch.CATALOG.cube("Orders")
    rd = _drill(sales, "Customer", "Customer")
    seg, bal = rd.level.properties
    held = P.held_members(spark, sf_dir, sales, rd, [seg, bal])
    assert P.held_members(spark, sf_dir, sales, rd, [bal, seg]) is held
    a = P.members_frame(spark, sf_dir, sales, rd, [seg, bal])
    b = P.members_frame(spark, sf_dir, sales, rd, [bal, seg])
    assert a.columns[-2:] == [seg.alias, bal.alias]
    assert b.columns[-2:] == [bal.alias, seg.alias]
    assert _rows(a.select(*b.columns)) == _rows(b)
    assert P.held_members(
        spark, sf_dir, orders, _drill(orders, "Customer", "Region")) \
        is P.held_members(spark, sf_dir, sales,
                          _drill(sales, "Customer", "Region"))


def test_numeric_caption_on_string_level_is_a_400(routed):
    # a caption cut whose value reads as a number used to reach Spark
    # as string_col = 5 and fail the job (a 500)
    _, client = routed
    r = client.get("/cubes/Sales/aggregate?drilldown[]=Time.Year"
                   "&measures[]=Quantity&cut[]=[Customer].[Nation].[5]")
    assert r.status_code == 400 and "not found" in r.get_json()["error"]


def test_table_rewrite_is_seen_without_flush(spark, sf_dir, tmp_path):
    data = _copy(sf_dir, tmp_path)
    app = create_app(tpch.CATALOG, data, spark=spark, flush_secret="s")
    client = app.test_client()
    dense = ("/cubes/Sales/aggregate.jsonrecords?"
             "drilldown[]=Customer.Nation&nonempty=false")
    members = "/cubes/Sales/dimensions/Customer/levels/Nation/members"

    def names(measure):
        # a new measure each time: the result cache keeps answers
        # until /flush, the member caches must not
        r = client.get(dense + f"&measures[]={measure}")
        return ({row["Nation"] for row in json.loads(r.data)["data"]},
                {m["name"] for m in
                 client.get(members).get_json()["members"]})
    axis, listed = names("Quantity")
    old = sorted(listed)[0]
    assert old in axis
    assert client.get(dense + "&measures[]=Quantity"
                      f"&cut[]=[Customer].[Nation].[{old}]"
                      ).status_code == 200

    path = f"{data}/nation.parquet"
    t = pq.read_table(path)
    i = t.column_names.index("n_name")
    t = t.set_column(i, "n_name", pa.array(
        ["ATLANTIS" if v == old else v
         for v in t.column("n_name").to_pylist()],
        type=t.schema.field("n_name").type))
    pq.write_table(t, path)

    axis, listed = names("Revenue")
    assert "ATLANTIS" in axis and old not in axis
    assert "ATLANTIS" in listed and old not in listed
    assert client.get(dense + "&measures[]=Line%20Count"
                      "&cut[]=[Customer].[Nation].[ATLANTIS]"
                      ).status_code == 200
    r = client.get(dense + "&measures[]=Line%20Count"
                   f"&cut[]=[Customer].[Nation].[{old}]")
    assert r.status_code == 400 and "not found" in r.get_json()["error"]


def test_append_of_a_new_year_passes_validation(spark, sf_dir, tmp_path):
    data = _copy(sf_dir, tmp_path)
    mgr = _manager(spark, data)
    app = create_app(tpch.CATALOG, data, spark=spark, rollup_manager=mgr)
    client = app.test_client()
    url = ("/cubes/Sales/aggregate?drilldown[]=Customer.Nation"
           "&measures[]=Quantity&cut[]=[Time].[Year].[2037]")
    try:
        assert client.get(url).status_code == 400
        batch = (load_table(spark, data, "lineitem")
                 .filter(F.col("l_orderkey") < 100)
                 .withColumn("l_shipdate", F.col("l_shipdate")
                             + F.expr("INTERVAL 40 YEARS")))
        years = {r[0] for r in batch.select(F.year("l_shipdate"))
                 .distinct().collect()}
        assert 2037 in years
        mgr.append(batch)
        assert client.get(url).status_code == 200
    finally:
        _drop_authority(spark, data, mgr)


def test_cap_fallback_returns_the_same_rows(spark, sf_dir, routed,
                                            monkeypatch):
    mgr, client = routed
    qms = [QueryModel(cube="Sales", measures=["Quantity"],
                      drilldown=["Customer.Region", "Time.Year"],
                      nonempty=False,
                      cut=["[Customer].[Region].[&3]"]),
           QueryModel(cube="Orders and Sales",
                      measures=["Quantity", "Order Count"],
                      drilldown=["Customer.Nation", "Time.Year"],
                      nonempty=False)]
    members = ("/cubes/Sales/dimensions/Customer/levels/Nation/members"
               "?children=true")
    held = ([_rows(mgr.route(qm)[0]) for qm in qms],
            client.get(members).get_json())
    monkeypatch.setattr(P, "_LEVEL_MEMBER_CAP", 1)
    plancache.invalidate()
    try:
        assert mgr._choose(qms[0]) is None     # no held nation->region map
        wide = ([_rows(mgr.route(qm)[0]) for qm in qms],
                client.get(members).get_json())
        assert wide == held
        bad = client.get("/cubes/Sales/aggregate?drilldown[]=Time.Year"
                         "&cut[]=[Customer].[Nation].[&99]")
        assert bad.status_code == 400
        stats = plancache.stats()["level_members"]
        assert stats["entries"] > 0 and stats["rows"] == 0
    finally:
        plancache.invalidate()


def test_dense_broadcast_decided_on_exact_counts(spark, sf_dir,
                                                monkeypatch):
    # Region x Year: footer bound 5 x lineitem rows, exact count 35
    qm = QueryModel(cube="Sales", measures=["Quantity"],
                    drilldown=["Customer.Region", "Time.Year"],
                    nonempty=False)
    aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()

    def hints(limit):
        monkeypatch.setattr(P, "DENSE_BROADCAST_ROWS", limit)
        plan, jobs = _jobs(spark, lambda: aggregate(
            spark, sf_dir, tpch.CATALOG, qm))
        assert jobs == 0                  # no guard job either
        text = plan._jdf.queryExecution().optimizedPlan().toString()
        return text.count("strategy=broadcast")
    assert hints(35) == hints(34) + 1


def test_stats_route(spark, routed):
    _, client = routed
    client.get("/cubes/Sales/dimensions/Customer/levels/Region/members")
    client.get("/cubes/Sales/dimensions/Customer/levels/Region/members")
    body = client.get("/stats").get_json()
    lm = body["plan_cache"]["level_members"]
    assert lm["hits"] >= 1 and lm["misses"] >= 1
    assert lm["entries"] >= 1 and lm["rows"] >= 5
    assert set(body["result_cache"]) == {"hits", "misses", "cells",
                                         "entries"}
    assert body["persisted_rdds"] >= 1          # the rollup
