"""Parent-child closure hierarchies (SURVEY J4) and aggregate-table
routing (SURVEY A9) — reference foodmart.xml:529-547 and :128-160."""

import pyspark.sql.functions as F
import pytest

from mondrian_rest_spark import tpch
from mondrian_rest_spark.operators.closure import build_closure, subtree_rollup
from mondrian_rest_spark.planner import aggregate
from mondrian_rest_spark.plans.rollup import RollupManager
from mondrian_rest_spark.query import QueryModel


@pytest.fixture(scope="module")
def org(spark):
    #        1
    #      /   \
    #     2     3
    #    / \     \
    #   4   5     6
    #  /
    # 7
    return spark.createDataFrame(
        [(1, None, "ceo"), (2, 1, "vp-a"), (3, 1, "vp-b"),
         (4, 2, "mgr"), (5, 2, "ic1"), (6, 3, "ic2"), (7, 4, "ic3")],
        ["emp_id", "parent_id", "emp_name"])


def test_build_closure(org):
    cl = build_closure(org, "emp_id", "parent_id")
    pairs = {(r.ancestor_id, r.descendant_id): r.depth for r in cl.collect()}
    assert pairs[(1, 1)] == 0
    assert pairs[(1, 7)] == 3          # ceo -> mgr chain bottom
    assert pairs[(2, 7)] == 2
    assert pairs[(4, 7)] == 1
    assert (3, 7) not in pairs          # different subtree
    # total rows: 7 self + transitive pairs
    assert len(pairs) == 7 + 6 + 4 + 1  # depth0 + d1 + d2 + d3


def test_subtree_rollup(spark, org):
    fact = spark.createDataFrame(
        [(i, float(10 ** (i - 1))) for i in range(1, 8)],
        ["emp_id_f", "salary"])
    cl = build_closure(org, "emp_id", "parent_id")
    out = subtree_rollup(fact, cl, org, "emp_id_f", "emp_id",
                         [F.sum("salary").alias("total_salary")])
    got = {r.emp_name: r.total_salary for r in out.collect()}
    assert got["ceo"] == sum(10 ** i for i in range(7))
    assert got["vp-a"] == 10 + 1000 + 10000 + 1000000   # 2,4,5,7
    assert got["mgr"] == 1000 + 1000000                 # 4,7
    assert got["ic3"] == 1000000


def test_rollup_routing_matches_base(spark, sf_dir):
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", ("Customer.Nation", "Time.Year"))

    qm = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                    drilldown=["Customer.Nation"],
                    cut=["([Time].[Year].[1996]:[Time].[Year].[1998])"])
    routed, source = mgr.route(qm)
    assert source == "nation_year"
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert sorted(map(tuple, routed.collect())) == \
        sorted(map(tuple, base.collect()))


def test_rollup_refuses_distinct_count(spark, sf_dir):
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", ("Customer.Nation", "Time.Year"))
    # distinct-count is non-additive -> must fall back to base facts
    qm = QueryModel(cube="Sales", measures=["Customer Count"],
                    drilldown=["Customer.Nation"])
    _, source = mgr.route(qm)
    assert source == "base"
    # finer grain than the rollup -> base
    qm2 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Customer"])
    _, source2 = mgr.route(qm2)
    assert source2 == "base"


def test_rollup_picks_cheapest_covering(spark, sf_dir):
    """With several covering aggregates, the router must pick the
    smallest one (Mondrian AggName behavior with multiple AggTables,
    foodmart.xml:128-160) — regardless of registration order."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    fine = mgr.register("region_nation_year",
                        ("Customer.Region", "Customer.Nation", "Time.Year"))
    coarse = mgr.register("region_only", ("Customer.Region",))
    assert coarse.rows < fine.rows
    # region grain is covered by BOTH -> the smaller one wins
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Region"])
    routed, source = mgr.route(qm)
    assert source == "region_only"
    # nation grain is only covered by the finer rollup
    qm2 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"])
    _, source2 = mgr.route(qm2)
    assert source2 == "region_nation_year"
    # and the routed result still matches base
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert sorted(map(tuple, routed.collect())) == \
        sorted(map(tuple, base.collect()))


def test_rollup_scans_cache_not_parquet(spark, sf_dir):
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", ("Customer.Nation", "Time.Year"))
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation"])
    routed, source = mgr.route(qm)
    assert source == "nation_year"
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan  # served from the cached rollup
    # nothing above the cache boundary scans parquet (the cached
    # relation's printed lineage below it legitimately mentions the
    # fact it was built from)
    assert "parquet" not in plan.split("InMemoryRelation")[0]


def test_rollup_incremental_append(spark, sf_dir, tmp_path):
    """Append-aware rollup maintenance (VERDICT r5 item 8): folding a
    batch of new fact rows into a time-partitioned rollup must (a) make
    routed queries reflect the new rows, (b) touch ONLY the partitions
    the batch lands in, and (c) never rescan the base fact — the delta
    is the batch aggregated at the rollup grain."""
    import os

    from mondrian_rest_spark.sources.registry import load_table

    path = str(tmp_path / "nation_year")
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    r = mgr.register("nation_year", ("Customer.Nation", "Time.Year"),
                     persist_path=path, partition_col="year")
    qm = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                    drilldown=["Customer.Nation", "Time.Year"])
    routed, src = mgr.route(qm)
    assert src == "nation_year"
    before = {tuple(row[:3]): (float(row[3]), row[4])
              for row in routed.collect()}

    def part_files():
        out = {}
        for d in os.listdir(path):
            if d.startswith("year="):
                full = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full) if f.endswith(".parquet"))
        return out
    files_before = part_files()

    # batch: real lineitem rows pushed 40 years out -> lands in brand-new
    # year partitions, plus nothing in any existing year
    batch = (load_table(spark, sf_dir, "lineitem")
             .filter(F.col("l_orderkey") < 100)
             .withColumn("l_shipdate",
                         F.col("l_shipdate") + F.expr("INTERVAL 40 YEARS")))
    delta = aggregate(spark, sf_dir, tpch.CATALOG, qm, fact_df=batch)
    expected = dict(before)
    for row in delta.collect():
        k = tuple(row[:3])
        assert k not in expected          # genuinely new partitions
        expected[k] = (float(row[3]), row[4])

    mgr.append(batch)
    routed2, src2 = mgr.route(qm)
    assert src2 == "nation_year"
    after = {tuple(row[:3]): (float(row[3]), row[4])
             for row in routed2.collect()}
    assert set(after) == set(expected)
    for k, (rev, cnt) in expected.items():
        assert after[k][0] == pytest.approx(rev, rel=1e-9) \
            and after[k][1] == cnt, k

    # only the batch's partitions were rewritten
    files_after = part_files()
    touched = {d for d in files_after
               if files_after[d] != files_before.get(d)}
    new_years = {f"year={row[0]}" for row in
                 delta.select("year").distinct().collect()}
    assert touched == new_years

    # second append into EXISTING partitions -> measures combine
    mgr.append(batch)
    routed3, _ = mgr.route(qm)
    after2 = {tuple(row[:3]): (float(row[3]), row[4])
              for row in routed3.collect()}
    for row in delta.collect():
        k = tuple(row[:3])
        assert after2[k][0] == pytest.approx(2 * float(row[3]), rel=1e-9)
        assert after2[k][1] == 2 * row[4]
    for k in before:                       # untouched partitions intact
        assert after2[k] == after[k] == before[k]


def test_rollup_append_null_partition_key(spark, sf_dir, tmp_path):
    """isin()-based slice selection is null-hostile (NULL IN (...) is
    never true — r6 ADVICE): a batch whose rows aggregate to a NULL
    grain key must MERGE with the existing null-partition totals, not
    silently replace them with delta-only values."""
    from mondrian_rest_spark.sources.registry import load_table

    path = str(tmp_path / "year_roll")
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("year_roll", ("Time.Year",),
                 persist_path=path, partition_col="year")
    qm = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                    drilldown=["Time.Year"])

    # rows with no ship date -> year(null) = null grain key
    batch = (load_table(spark, sf_dir, "lineitem")
             .filter(F.col("l_orderkey") < 100)
             .withColumn("l_shipdate", F.lit(None).cast("date")))
    mgr.append(batch)                      # creates the null partition
    one = {row[0]: (float(row[1]), row[2])
           for row in mgr.route(qm)[0].collect()}
    assert None in one and one[None][1] > 0

    mgr.append(batch)                      # must COMBINE, not replace
    two = {row[0]: (float(row[1]), row[2])
           for row in mgr.route(qm)[0].collect()}
    assert two[None][0] == pytest.approx(2 * one[None][0], rel=1e-9)
    assert two[None][1] == 2 * one[None][1]
    for y in one:                          # non-null years untouched
        if y is not None:
            assert two[y] == one[y]


def test_rollup_routed_post_shaping_parity(spark, sf_dir):
    """A routed query with HAVING / ORDER (+hidden measure) / OFFSET /
    LIMIT must answer exactly like the base planner path — before this
    guard the router would have silently dropped those clauses
    (VERDICT r6 item 8 prerequisite)."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year2", ("Customer.Nation", "Time.Year"))
    cases = [
        # HAVING on a displayed measure
        dict(measures=["Revenue"], drilldown=["Customer.Nation"],
             filter=["Revenue > 1000000"]),
        # ORDER by a HIDDEN measure (not displayed) + LIMIT
        dict(measures=["Revenue"], drilldown=["Customer.Nation"],
             order="Line Count", order_desc=True, limit=3),
        # OFFSET pagination under the default member order
        dict(measures=["Revenue", "Line Count"],
             drilldown=["Customer.Nation"], limit=4, offset=3),
        # HAVING on a hidden measure + caption order
        dict(measures=["Revenue"], drilldown=["Customer.Nation"],
             filter=["Line Count >= 10"], order="Customer.Nation.Caption",
             order_desc=False, limit=5),
    ]
    for kw in cases:
        qm = QueryModel(cube="Sales", **kw)
        routed, source = mgr.route(qm)
        assert source == "nation_year2", kw
        base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
        assert routed.columns == base.columns, kw
        assert [tuple(r) for r in routed.collect()] == \
            [tuple(r) for r in base.collect()], kw


def test_rollup_router_ignores_other_cubes(spark, sf_dir):
    """A manager routes exactly one cube: queries against any other
    cube fall through to the base planner untouched."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("per_year2", ("Time.Year",))
    qm = QueryModel(cube="Orders", measures=["Order Count"],
                    drilldown=["Time.Year"])
    routed, source = mgr.route(qm)
    assert source == "base"
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert sorted(map(tuple, routed.collect())) == \
        sorted(map(tuple, base.collect()))


def test_rollup_routes_approx_distinct_via_hll_sketch(spark, sf_dir):
    """VERDICT r7 #4: approx-declared distinct measures route through
    persisted HLL sketches (mergeable: union-of-sketches ==
    sketch-of-union); the routed estimate stays within the declared
    tolerance of the exact distinct count.  Exact count_distinct still
    refuses routing."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    r = mgr.register("nation_year", ("Customer.Nation", "Time.Year"))
    # the layout persisted a sketch column next to the numeric measures
    assert "approx_customer_count__hll" in r.frame.columns

    qm = QueryModel(cube="Sales",
                    measures=["Revenue", "Approx Customer Count"],
                    drilldown=["Customer.Nation"])
    routed, source = mgr.route(qm)
    assert source == "nation_year"
    exact = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Sales", measures=["Customer Count"],
        drilldown=["Customer.Nation"]))
    got = {tuple(row)[:2]: row[-1] for row in routed.collect()}
    want = {tuple(row)[:2]: row[-1] for row in exact.collect()}
    assert got.keys() == want.keys()
    for k, est in got.items():
        # lgConfigK=14 -> ~0.8% rsd; 5% is the declared routing bound
        assert abs(est - want[k]) <= max(2, 0.05 * want[k]), (k, est, want[k])

    # exact distinct: never routed
    _, source2 = mgr.route(QueryModel(
        cube="Sales", measures=["Customer Count"],
        drilldown=["Customer.Nation"]))
    assert source2 == "base"

    # a rollup registered BEFORE the cube had sketches (simulated by a
    # frame without the sketch column) must not cover approx queries
    import dataclasses as _dc
    r_nosk = mgr.rollups[0]
    stripped = _dc.replace(
        r_nosk, name="stripped",
        frame=r_nosk.frame.drop("approx_customer_count__hll"))
    mgr2 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr2.rollups.append(stripped)
    _, src = mgr2.route(qm)
    assert src == "base"


def test_rollup_hll_sketch_survives_append(spark, sf_dir, tmp_path):
    """Incremental append merges sketches with hll_union_agg — the
    routed estimate over old+new facts matches a fresh base estimate
    within tolerance."""
    from mondrian_rest_spark.sources.registry import load_table
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("year_roll", ("Time.Year",),
                 persist_path=str(tmp_path / "year_roll"))
    fact = load_table(spark, sf_dir, "lineitem")
    batch = fact.limit(500)
    mgr.append(batch, batch_tag="b1")
    qm = QueryModel(cube="Sales", measures=["Approx Customer Count"],
                    drilldown=["Time.Year"])
    routed, source = mgr.route(qm)
    assert source == "year_roll"
    got = {row[0]: row[-1] for row in routed.collect()}
    # oracle: exact distinct over base+batch at the same grain
    import pyspark.sql.functions as F
    orders = load_table(spark, sf_dir, "orders")
    both = fact.unionByName(batch).join(
        orders, fact.l_orderkey == orders.o_orderkey)
    want = {row[0]: row[1] for row in
            (both.groupBy(F.year("l_shipdate").alias("y"))
                 .agg(F.countDistinct("o_custkey").alias("c")).collect())}
    assert got.keys() == want.keys()
    for k, est in got.items():
        assert abs(est - want[k]) <= max(2, 0.05 * want[k]), (k, est, want[k])


def test_rollup_advisor_synthetic_log():
    """VERDICT r7 #6: the advisor recommends covering grains from a
    frequency-weighted query log, skips unroutable queries, and its
    top grain actually routes the hot queries when registered."""
    from mondrian_rest_spark.plans.advisor import recommend_rollups

    hot = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"],
                     cut=["[Time].[Year].[1996]"])
    warm = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                      drilldown=["Customer.Nation", "Time.Year"])
    cold = QueryModel(cube="Sales", measures=["Quantity"],
                      drilldown=["Part.Brand"])
    # dense (nonempty=false) COUNTS since r13 — the router dense-fills
    # the routed nonempty aggregate, so dense log entries are demand
    dense = QueryModel(cube="Sales", measures=["Revenue"],
                       drilldown=["Customer.Nation", "Time.Year"],
                       nonempty=False)
    unroutable = [
        QueryModel(cube="Sales", measures=["Customer Count"],   # exact dc
                   drilldown=["Customer.Nation"]),
        QueryModel(cube="Sales", measures=["Avg Price"],        # calc
                   drilldown=["Customer.Nation"]),
        QueryModel(cube="Sales", measures=["Revenue"],          # DDLTOP
                   gs_axes=[("Customer.Region", None)],
                   gs_top=[("Customer.Region", 2, "Revenue", False)],
                   nonempty=True),
        QueryModel(cube="Orders", measures=["Order Count"],     # other cube
                   drilldown=["Customer.Nation"]),
    ]
    # dense GENERATE is ROUTABLE demand since r14 (the dense fill runs
    # before the routed rank) — its need is the (Region, Nation) pair
    dense_gen = QueryModel(cube="Sales", measures=["Revenue"],
                           drilldown=[], nonempty=False,
                           generate_top=("Customer.Region", 2,
                                         "Revenue", False))
    log = [hot] * 10 + [warm] * 4 + [cold] * 1 + [dense] * 5 \
        + unroutable * 5 + [dense_gen] * 2
    recs = recommend_rollups(tpch.SALES, log, max_rollups=3)
    assert recs, "advisor returned nothing"
    # hot+warm+dense share the (Nation, Year) need-union; it comes first
    top = recs[0]
    assert set(top.grain) == {"Customer.Nation", "Time.Year"}
    assert top.covered_weight == 19
    grains = [set(r.grain) for r in recs[1:]]
    assert {"Customer.Region", "Customer.Nation"} in grains
    assert {"Part.Brand"} in grains

    # cardinality-aware scoring: a grain estimated at fact size is
    # skipped entirely
    card = {("Customer", "Nation"): 25, ("Time", "Year"): 7,
            ("Customer", "Region"): 5, ("Part", "Brand"): 25}
    recs2 = recommend_rollups(tpch.SALES, log, max_rollups=2,
                              level_cardinality=card, base_rows=100_000)
    assert {"Customer.Nation", "Time.Year"} <= set(recs2[0].grain)
    assert recs2[0].est_rows <= 875          # measured, far from fact
    recs3 = recommend_rollups(tpch.SALES, log, level_cardinality=card,
                              base_rows=20)   # everything ~ fact size
    assert recs3 == []


def test_bucketing_advisor_synthetic_log():
    """r12 (VERDICT r11 #4): the advisor recommends a BUCKET key — the
    most-frequent fact-grain equi-join in the served log is the bridge
    FK of the bridged dimensions/measures the queries touch.  Rollup-
    unroutable queries COUNT (they pay the bridge join on the base
    path every time); queries touching no bridge don't."""
    from mondrian_rest_spark.plans.advisor import recommend_bucketing

    bridged_dim = QueryModel(cube="Sales", measures=["Revenue"],
                             drilldown=["Customer.Nation"])
    bridged_unroutable = QueryModel(cube="Sales", measures=["Revenue"],
                                    drilldown=["Customer.Nation"],
                                    parents=True)
    bridged_measure = QueryModel(cube="Sales",
                                 measures=["Customer Count"],
                                 drilldown=["Part.Brand"])
    unbridged = QueryModel(cube="Sales", measures=["Revenue"],
                           drilldown=["Part.Brand"])
    other_cube = QueryModel(cube="Orders", measures=["Order Count"],
                            drilldown=["Customer.Nation"])
    log = ([bridged_dim] * 3 + [bridged_unroutable] * 2
           + [bridged_measure] + [unbridged] * 10 + [other_cube] * 5)
    rec = recommend_bucketing(tpch.SALES, log)
    assert rec is not None
    assert (rec.bridge, rec.fact_table, rec.fact_key,
            rec.bridge_table, rec.bridge_key) == \
        ("orders", "lineitem", "l_orderkey", "orders", "o_orderkey")
    assert rec.join_weight == 6           # 3 + 2 + 1, other cube excluded
    assert rec.log_size == 16             # Orders-cube entries excluded
    # no bridge demand -> no recommendation
    assert recommend_bucketing(tpch.SALES, [unbridged] * 5) is None
    # a cube with no bridges never recommends
    assert recommend_bucketing(tpch.ORDERS, log) is None


def test_rollup_advisor_grains_register_and_route(spark, sf_dir):
    """End-to-end: registering the advised grain routes the hot query."""
    from mondrian_rest_spark.plans.advisor import recommend_rollups

    hot = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"],
                     cut=["[Time].[Year].[1996]"])
    recs = recommend_rollups(tpch.SALES, [hot] * 5)
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("advised", recs[0].grain)
    routed, source = mgr.route(hot)
    assert source == "advised"
    base = aggregate(spark, sf_dir, tpch.CATALOG, hot)
    assert sorted(map(tuple, routed.collect())) == \
        sorted(map(tuple, base.collect()))


def test_rollup_authority_identity_guard(spark, sf_dir):
    """r14 (VERDICT r13 #5): _NS_ROUTERS keys on (applicationId,
    sf_dir, cube name) — two different managers over the same data dir
    previously collided SILENTLY.  Re-registration by a different
    instance now replaces deterministically with a warning (latest
    wins), or raises with replace=False; re-registering the SAME
    instance is a silent no-op."""
    import mondrian_rest_spark.planner as P

    key = (spark.sparkContext.applicationId, sf_dir, "Sales")
    prev = P._NS_ROUTERS.pop(key, None)
    try:
        m1 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
        m1.register_as_authority()
        assert P._NS_ROUTERS[key] is m1
        import warnings as _w
        with _w.catch_warnings():
            _w.simplefilter("error")
            m1.register_as_authority()          # same instance: no-op
        assert P._NS_ROUTERS[key] is m1
        m2 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
        with pytest.raises(ValueError, match="already the"):
            m2.register_as_authority(replace=False)
        assert P._NS_ROUTERS[key] is m1         # refusal left m1
        with pytest.warns(UserWarning, match="replacing the evaluation"):
            m2.register_as_authority()
        assert P._NS_ROUTERS[key] is m2         # deterministic latest-wins
    finally:
        P._NS_ROUTERS.pop(key, None)
        if prev is not None:
            P._NS_ROUTERS[key] = prev


def test_rollup_advisor_measured_cardinality_beats_proxy(spark, sf_dir):
    """VERDICT r8 #5: per-level cardinalities measured at rollup-build
    time (RollupManager.level_stats) feed the advisor; where the
    level-count proxy and the measured order DISAGREE, the measured
    one wins."""
    from mondrian_rest_spark.plans.advisor import recommend_rollups

    qa = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Region", "Time.Year"])
    qb = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Customer"])
    log = [qa, qb]

    # level-count proxy: {Customer} is 1 level vs {Region, Year}'s 2,
    # so the proxy scores the CUSTOMER grain highest...
    proxy = recommend_rollups(tpch.SALES, log, max_rollups=1)
    assert proxy[0].grain == ("Customer.Customer",)

    # ...but measured cardinality says Customer (~150 members at
    # sf0.001) costs 4x more rows than Region x Year (5 x 7 = 35)
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("stats_probe", ("Customer.Customer", "Customer.Region",
                                 "Time.Year"))
    stats = mgr.level_stats
    assert stats[("Customer", "Region")] == 5
    assert stats[("Customer", "Customer")] > 35   # dwarfs Region x Year
    measured = recommend_rollups(tpch.SALES, log, max_rollups=1,
                                 level_cardinality=stats)
    assert set(measured[0].grain) == {"Customer.Region", "Time.Year"}
    assert measured[0].est_rows == (stats[("Customer", "Region")]
                                    * stats[("Time", "Year")])


def test_pc_dimension_precomputed_closure_table(spark, sf_dir, tmp_path):
    """Mondrian's <Closure> declared path (foodmart.xml:537-540): a
    parent-child dimension bound to a PRECOMPUTED closure table reads
    it instead of building the closure — results identical to the
    build-side dimension."""
    import dataclasses
    import os

    import pyspark.sql.functions as F

    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.catalog import ParentChild
    from mondrian_rest_spark.planner import (aggregate, pc_closure_frame,
                                             pc_member_frame)
    from mondrian_rest_spark.query import QueryModel

    orders = tpch.CATALOG.cube("Orders")
    geo = orders.dimension("Geo Tree")
    # materialize the built closure as the "precomputed" table in a
    # tmp data dir that symlinks the real tables
    cl = pc_closure_frame(spark, sf_dir, geo)
    data = tmp_path / "sfpc"
    data.mkdir()
    for t in ("region", "nation", "customer", "orders"):
        os.symlink(f"{sf_dir}/{t}.parquet", data / f"{t}.parquet")
    cl.write.parquet(str(data / "geo_closure.parquet"))

    geo2 = dataclasses.replace(
        geo, parent_child=dataclasses.replace(
            geo.parent_child, closure_table="geo_closure"))
    orders2 = dataclasses.replace(
        orders, dimensions=tuple(
            geo2 if d.name == "Geo Tree" else d
            for d in orders.dimensions))
    cat2 = dataclasses.replace(
        tpch.CATALOG, cubes=tuple(
            orders2 if c.name == "Orders" else c
            for c in tpch.CATALOG.cubes))

    qm = QueryModel(cube="Orders", measures=["Total Price"],
                    drilldown=["Geo Tree"],
                    cut=["[Geo Tree].[Node].[&N2]"], nonempty=True)
    built = {tuple(r) for r in
             aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()}
    precomputed = {tuple(r) for r in
                   aggregate(spark, str(data), cat2, qm).collect()}
    assert built == precomputed and built
    # the precomputed path reads the table (closure cache is keyed per
    # sf_dir, so this entry came from the parquet, not the builder)
    cl2 = pc_closure_frame(spark, str(data), geo2)
    assert cl2.count() == cl.count()


def test_pc_dimension_raw_mdx_drilldown(spark, sf_dir):
    """The parent-child dimension drills through the raw-MDX surface
    too — [Geo Tree].[Node].Members enumerates the whole tree with
    subtree-aggregated cells, same as the REST drilldown."""
    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.mdx import execute_mdx
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    via_mdx = {tuple(r) for r in execute_mdx(
        spark, sf_dir, tpch.CATALOG,
        "SELECT {[Measures].[Total Price]} ON COLUMNS, "
        "NON EMPTY [Geo Tree].[Node].Members ON ROWS "
        "FROM [Orders] WHERE ([Geo Tree].[Node].[&N1])").collect()}
    via_rest = {tuple(r) for r in aggregate(
        spark, sf_dir, tpch.CATALOG,
        QueryModel(cube="Orders", measures=["Total Price"],
                   drilldown=["Geo Tree.Node"],
                   cut=["[Geo Tree].[Node].[&N1]"],
                   nonempty=True)).collect()}
    assert via_mdx == via_rest and via_mdx


def test_pc_dimension_dense_axes(spark, sf_dir):
    """Dense (nonempty=false) over a parent-child drill: the axis
    enumerates EVERY tree node from the member frame; nodes whose
    subtree has no facts under the slicer show null cells."""
    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    rows = aggregate(spark, sf_dir, tpch.CATALOG, QueryModel(
        cube="Orders", measures=["Total Price"],
        drilldown=["Geo Tree"], cut=["[Geo Tree].[Node].[&N3]"],
        nonempty=False)).collect()
    # sf0.001: 5 regions + 25 nations + 150 customers = 180 nodes
    assert len(rows) == 180
    filled = [r for r in rows if r["total_price"] is not None]
    keys = {r["geo_node_id"] for r in filled}
    # exactly N3's subtree + its ancestor region carry values
    assert "N3" in keys and "R3" in keys
    assert all(k.startswith("C") for k in keys - {"N3", "R3"})
    assert len(filled) < 20


def test_pc_cut_by_caption_resolves_via_member_frame(spark, sf_dir):
    """A caption-written parent-child cut resolves to node ids through
    the member frame (the closure keys on ids — matching captions
    there would silently cut to nothing); unknown captions 400."""
    import pytest

    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.parser import ParseError
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    def run(cut):
        return {tuple(r) for r in aggregate(
            spark, sf_dir, tpch.CATALOG,
            QueryModel(cube="Orders", measures=["Total Price"],
                       drilldown=["Geo Tree"], cut=[cut],
                       nonempty=True)).collect()}

    assert run("[Geo Tree].[Node].[AMERICA]") == \
        run("[Geo Tree].[Node].[&R1]")
    with pytest.raises(ParseError, match="no member named"):
        run("[Geo Tree].[Node].[NOWHERELAND]")


def test_pc_known_depth_too_small_fails_loud(spark, sf_dir):
    """A declared known_depth SMALLER than the real tree depth would
    silently truncate ancestor chains (subtree rollups quietly missing
    the deepest facts) — the closure build probes for deeper pairs and
    400s instead."""
    import dataclasses

    import pytest

    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.parser import ParseError
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    orders = tpch.CATALOG.cube("Orders")
    geo = orders.dimension("Geo Tree")
    shallow = dataclasses.replace(
        geo,
        name="Geo Shallow",
        parent_child=dataclasses.replace(geo.parent_child, known_depth=1))
    orders2 = dataclasses.replace(
        orders, dimensions=orders.dimensions + (shallow,))
    cat2 = dataclasses.replace(
        tpch.CATALOG, cubes=tuple(
            orders2 if c.name == "Orders" else c
            for c in tpch.CATALOG.cubes))
    with pytest.raises(ParseError, match="known_depth=1"):
        aggregate(spark, sf_dir, cat2, QueryModel(
            cube="Orders", measures=["Total Price"],
            drilldown=["Geo Shallow"], nonempty=True)).collect()
    # the correctly-declared dimension still builds (depth 2 is exact)
    rows = aggregate(spark, sf_dir, cat2, QueryModel(
        cube="Orders", measures=["Total Price"],
        drilldown=["Geo Tree"], nonempty=True)).collect()
    assert rows


def test_virtual_cube_routes_through_rollup(spark, sf_dir):
    """r11: a VIRTUAL-cube query's per-cube sub-aggregates route
    through the base cube's rollups — values identical to the direct
    drill-across, source surfaces the routed cube."""
    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.plans.rollup import RollupManager
    from mondrian_rest_spark.query import QueryModel

    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_roll", ("Customer.Nation",))
    qm = QueryModel(cube="Orders and Sales",
                    measures=["Revenue", "Total Price"],
                    drilldown=["Customer.Nation"], nonempty=True)
    routed, src = mgr.route(qm)
    assert src == "virtual:Sales=nation_roll"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    got = sorted(tuple(r) for r in routed.collect())
    want = sorted(tuple(r) for r in direct.collect())
    assert got == want and len(got) == 25
    # the routed plan reads the rollup, not the lineitem fact
    logical = routed._jdf.queryExecution().logical().toString()
    assert "lineitem" not in logical
    # non-covering grain falls back to base for that sub (source base)
    qm2 = QueryModel(cube="Orders and Sales",
                     measures=["Revenue", "Total Price"],
                     drilldown=["Customer.Customer"], nonempty=True)
    _, src2 = mgr.route(qm2)
    assert src2 == "base"


def test_rollup_refuses_multi_generate(spark, sf_dir):
    """r12 (ADVICE r11): a two-GENERATE query must route to BASE — a
    rollup covering only the FIRST GENERATE's levels would silently
    drop the second GENERATE's dimension and window in _reaggregate."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("region_nation", ("Customer.Region", "Customer.Nation"))
    qm = QueryModel(
        cube="Sales", measures=["Revenue"], nonempty=True,
        generate_top=("Customer.Region", 2, "Revenue", False),
        generate_more=[("Time.Year", 2, "Revenue", False,
                        "measure", None)])
    routed, source = mgr.route(qm)
    assert source == "base"
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert sorted(map(tuple, routed.collect())) == \
        sorted(map(tuple, base.collect()))
    # the refusal must not over-reach: single GENERATE still routes
    qm1 = QueryModel(cube="Sales", measures=["Revenue"], nonempty=True,
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    routed1, source1 = mgr.route(qm1)
    assert source1 == "region_nation"
    base1 = aggregate(spark, sf_dir, tpch.CATALOG, qm1)
    assert sorted(map(tuple, routed1.collect())) == \
        sorted(map(tuple, base1.collect()))


def test_parents_routes_through_covering_rollup(spark, sf_dir):
    """r12: parents=true routes when the rollup grain covers the WHOLE
    ancestor chain — previously every parents query scanned base.  The
    routed output must be indistinguishable from the base path (same
    columns, same rows, same order)."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("chain",
                 ("Customer.Region", "Customer.Nation", "Time.Year"))
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation"], parents=True,
                    nonempty=True)
    routed, src = mgr.route(qm)
    assert src == "chain"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert routed.columns == direct.columns
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in direct.collect()]
    # with cuts + HAVING + order/limit post-shaping parity holds too
    qm2 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"], parents=True,
                     cut=["[Time].[Year].[&1996]"], nonempty=True,
                     order="Revenue", order_desc=True, limit=7)
    routed2, src2 = mgr.route(qm2)
    assert src2 == "chain"
    direct2 = aggregate(spark, sf_dir, tpch.CATALOG, qm2)
    assert [tuple(r) for r in routed2.collect()] == \
        [tuple(r) for r in direct2.collect()]
    # a grain MISSING the ancestor level must not serve the chain
    mgr2 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr2.register("no_chain", ("Customer.Nation", "Time.Year"))
    _, src3 = mgr2.route(qm)
    assert src3 == "base"
    # parents + GENERATE keeps the base path (the pair resolution does
    # not model the ancestor chain)
    qm4 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=[], parents=True, nonempty=True,
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    _, src4 = mgr.route(qm4)
    assert src4 == "base"


def test_dense_routes_through_covering_rollup(spark, sf_dir):
    """r13 (VERDICT r12 #1): dense (nonempty=false) is Mondrian's
    DEFAULT (reference api.rb:137), so the default-params query must
    route too — the dense fill is dim-side member frames left-joined
    to the routed nonempty aggregate, never a fact scan.  Routed dense
    output must be row-identical (including null-filled cells and
    ordering) to the base path."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", ("Customer.Nation", "Time.Year"))

    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation", "Time.Year"],
                    nonempty=False)
    routed, src = mgr.route(qm)
    assert src == "nation_year"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert routed.columns == direct.columns
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in direct.collect()]
    # dense + WHERE cut on a grain level: the cut restricts facts AND
    # (same-dimension) the member frame — parity must hold
    qm2 = QueryModel(cube="Sales", measures=["Revenue", "Line Count"],
                     drilldown=["Customer.Nation"],
                     cut=["[Time].[Year].[&1996]"], nonempty=False)
    routed2, src2 = mgr.route(qm2)
    assert src2 == "nation_year"
    direct2 = aggregate(spark, sf_dir, tpch.CATALOG, qm2)
    assert routed2.columns == direct2.columns
    assert [tuple(r) for r in routed2.collect()] == \
        [tuple(r) for r in direct2.collect()]
    # the dense frame must actually contain null-filled cells here
    # (1996-only facts leave some nation rows empty only if every
    # nation traded in 1996 — assert the dense fill shape instead:
    # all 25 nations present regardless of fact coverage)
    assert routed2.count() == 25
    # dense + HAVING + order/limit post-shaping parity
    qm3 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"], nonempty=False,
                     filter=["Revenue > 1000"],
                     order="Revenue", order_desc=True, limit=5)
    routed3, src3 = mgr.route(qm3)
    assert src3 == "nation_year"
    direct3 = aggregate(spark, sf_dir, tpch.CATALOG, qm3)
    assert [tuple(r) for r in routed3.collect()] == \
        [tuple(r) for r in direct3.collect()]
    # dense GENERATE routes since r14 — but only when the grain covers
    # the (parent, child) PAIR; nation_year lacks Region, so base
    qm4 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     nonempty=False,
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    _, src4 = mgr.route(qm4)
    assert src4 == "base"
    # dense routed plan never scans the fact: everything above the
    # cached rollup is member frames (dim scans) + the left join
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "lineitem" not in plan.split("InMemoryRelation")[0]


def test_grouping_sets_axes_route_through_rollup(spark, sf_dir):
    """r14: DRILLDOWNLEVEL / DRILLDOWNMEMBER axes ROUTE — the 2^k-set
    Expand re-aggregates from rollup rows (sum-of-sums is exact at
    every grouping set), nonempty AND dense, subset filters included;
    routed output row-identical to the base path and the fact is never
    scanned above the cached rollup.  DDLTOP / parents / GENERATE
    combinations stay on base (rank-basis and 400 parity)."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("rny", ("Customer.Region", "Customer.Nation",
                         "Time.Year"))

    # NON EMPTY DRILLDOWNLEVEL
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    gs_axes=[("Customer.Region", None)], nonempty=True)
    routed, src = mgr.route(qm)
    assert src == "rny"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert routed.columns == direct.columns
    assert sorted((tuple(r) for r in routed.collect()),
                  key=repr) == \
        sorted((tuple(r) for r in direct.collect()), key=repr)

    # DENSE DRILLDOWNMEMBER subset + WHERE cut: densified fill over
    # the rollup-built Expand, member frames restricted identically
    qm2 = QueryModel(
        cube="Sales", measures=["Revenue"],
        gs_axes=[("Customer.Region",
                  "{[Customer].[Region].[&1],[Customer].[Region].[&3]}")],
        cut=["[Time].[Year].[&1996]"], nonempty=False)
    routed2, src2 = mgr.route(qm2)
    assert src2 == "rny"
    direct2 = aggregate(spark, sf_dir, tpch.CATALOG, qm2)
    assert routed2.columns == direct2.columns
    assert sorted((tuple(r) for r in routed2.collect()), key=repr) == \
        sorted((tuple(r) for r in direct2.collect()), key=repr)
    assert routed2.count() == 15      # 5 subtotals + 2x5 children
    # nothing above the cached rollup scans the fact
    plan = routed2._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "lineitem" not in plan.split("InMemoryRelation")[0]

    # gs + another dimension drilled routes too (one Expand, the
    # other dim a plain key)
    qm3 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Time.Year"],
                     gs_axes=[("Customer.Region", None)],
                     nonempty=True, order="Revenue", order_desc=True,
                     limit=10)
    routed3, src3 = mgr.route(qm3)
    assert src3 == "rny"
    direct3 = aggregate(spark, sf_dir, tpch.CATALOG, qm3)
    assert [tuple(r) for r in routed3.collect()] == \
        [tuple(r) for r in direct3.collect()]

    # DDLTOP stays base (slicer-context rank basis)
    qm4 = QueryModel(cube="Sales", measures=["Revenue"],
                     gs_axes=[("Customer.Region", None)],
                     gs_top=[("Customer.Region", 2, "Revenue", False)],
                     nonempty=True)
    _, src4 = mgr.route(qm4)
    assert src4 == "base"

    # dense GENERATE routes when the grain covers the pair (r14): the
    # dense fill runs before the rank, so the routed rank sees the
    # DENSIFIED pair frame nulls-last — base-identical rows
    qm5 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     cut=["[Time].[Year].[&1996]"], nonempty=False,
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    routed5, src5 = mgr.route(qm5)
    assert src5 == "rny"
    direct5 = aggregate(spark, sf_dir, tpch.CATALOG, qm5)
    assert routed5.columns == direct5.columns
    assert [tuple(r) for r in routed5.collect()] == \
        [tuple(r) for r in direct5.collect()]

    # VIRTUAL gs queries route their Sales sub — the kept F.grouping()
    # markers ride the routed output through the null-safe drill-across
    # join, nonempty AND dense
    for ne in (True, False):
        vq = QueryModel(cube="Orders and Sales",
                        measures=["Revenue", "Total Price"],
                        gs_axes=[("Customer.Region", None)],
                        nonempty=ne)
        routed_v, src_v = mgr.route(vq)
        assert "Sales=rny" in src_v, src_v
        direct_v = aggregate(spark, sf_dir, tpch.CATALOG, vq)
        assert routed_v.columns == direct_v.columns
        assert sorted((tuple(r) for r in routed_v.collect()),
                      key=repr) == \
            sorted((tuple(r) for r in direct_v.collect()), key=repr)


def test_ptd_routes_through_rollup(spark, sf_dir):
    """r14: PERIODSTODATE/YTD queries route — the shared
    planner.resolve_ptd rewrite (member's level drilled + ancestor
    member cuts + the to-date range cut) runs BEFORE _choose, so the
    grain check serves it like any drilldown+cut query.  Routed rows
    bit-identical to base; dense PTD stays on base; absent members
    400 identically."""
    import dataclasses
    from mondrian_rest_spark.parser import ParseError
    from mondrian_rest_spark.plans.advisor import recommend_rollups

    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("yd", ("Time.Year", "Time.Day"))
    qm = QueryModel(cube="Sales", measures=["Revenue"], nonempty=True,
                    periods_to_date=[("Year",
                                      "[Time].[Day].[&1996-02-10]")])
    routed, src = mgr.route(qm)
    assert src == "yd"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert routed.columns == direct.columns
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in direct.collect()]
    # nothing above the cached rollup scans the fact
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "lineitem" not in plan.split("InMemoryRelation")[0]
    # dense PTD stays on base (the dense axis frame restriction is
    # axis_cuts the QueryModel can't carry)
    _, src2 = mgr.route(dataclasses.replace(qm, nonempty=False))
    assert src2 == "base"
    # absent member 400s identically on the routed path
    bad = dataclasses.replace(
        qm, periods_to_date=[("Year", "[Time].[Day].[&1890-01-01]")])
    with pytest.raises(ParseError, match="not found"):
        mgr.route(bad)
    # the advisor counts PTD demand (chain + level levels; the chain
    # levels are CUT levels for partition advice)
    recs = recommend_rollups(tpch.SALES, [qm] * 5)
    assert recs and {"Time.Year", "Time.Day"} <= set(recs[0].grain)
    assert recs[0].partition_spec in ("Time.Year", "Time.Day")

    # LASTPERIODS and .Lag route too — their cuts sit AT the axis
    # level, so DENSE routes as well (the set cut restricts the dense
    # member frame identically on both paths)
    for ne in (True, False):
        lp = QueryModel(cube="Sales", measures=["Revenue"],
                        nonempty=ne,
                        lastperiods=[("[Time].[Year].[&1998]", 3)])
        routed_lp, src_lp = mgr.route(lp)
        assert src_lp == "yd", (ne, src_lp)
        direct_lp = aggregate(spark, sf_dir, tpch.CATALOG, lp)
        assert [tuple(r) for r in routed_lp.collect()] == \
            [tuple(r) for r in direct_lp.collect()]
    lag = QueryModel(cube="Sales", measures=["Revenue"], nonempty=True,
                     member_lags=[("[Time].[Year].[&1998]", 2)])
    routed_lg, src_lg = mgr.route(lag)
    assert src_lg == "yd"
    direct_lg = aggregate(spark, sf_dir, tpch.CATALOG, lag)
    assert [tuple(r) for r in routed_lg.collect()] == \
        [tuple(r) for r in direct_lg.collect()]
    # out-of-range shift 400s identically on the routed path
    with pytest.raises(ParseError, match="runs past"):
        mgr.route(dataclasses.replace(
            lag, member_lags=[("[Time].[Year].[&1995]", 40)]))
    # advisor counts them (level joins the need and the cut levels)
    recs_lp = recommend_rollups(tpch.SALES, [lp] * 5)
    assert recs_lp and "Time.Year" in recs_lp[0].grain


def test_advisor_learns_from_virtual_cube_log(spark, sf_dir):
    """r13 (VERDICT r12 #3): a virtual-heavy served log must recommend
    the BASE-cube grain that the drill-across sub-aggregates then
    route through (`virtual:<cube>=<rollup>`); previously the advisor
    dropped every qm.cube != cube.name entry, so the hottest virtual
    workload never influenced which grains get built."""
    from mondrian_rest_spark.plans.advisor import (recommend_rollups,
                                                   resolve_virtual_entries)

    vq = QueryModel(cube="Orders and Sales",
                    measures=["Revenue", "Total Price"],
                    drilldown=["Customer.Nation"], nonempty=True)
    log = [vq] * 8
    # direct call: the advisor alone sees no Sales entries
    assert recommend_rollups(tpch.SALES, [q for q in log
                                          if q.cube == "Sales"]) == []
    mapped = resolve_virtual_entries(tpch.CATALOG, tpch.SALES, log)
    assert len(mapped) == 8
    assert mapped[0].cube == "Sales" and mapped[0].measures == ["Revenue"]
    recs = recommend_rollups(tpch.SALES, mapped)
    assert recs and recs[0].grain == ("Customer.Nation",)
    assert recs[0].covered_weight == 8
    # the advised grain registered on the base cube now serves the
    # virtual query's Sales sub-aggregate
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("vc_advised", recs[0].grain)
    routed, src = mgr.route(vq)
    assert src == "virtual:Sales=vc_advised"
    direct = aggregate(spark, sf_dir, tpch.CATALOG, vq)
    assert sorted(tuple(r) for r in routed.collect()) == \
        sorted(tuple(r) for r in direct.collect())
    # entries whose virtual rewrite reshapes axes are skipped
    gen = QueryModel(cube="Orders and Sales", measures=["Revenue"],
                     drilldown=[], nonempty=True,
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    assert resolve_virtual_entries(tpch.CATALOG, tpch.SALES, [gen]) == []
    # other-catalog / base-cube entries pass through untouched (none)
    assert resolve_virtual_entries(
        tpch.CATALOG, tpch.SALES,
        [QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation"])]) == []


def test_named_set_cut_and_drilldown_route(spark, sf_dir):
    """r13: named-set cuts and named-set drilldown shortcuts route —
    the memoized member keys become the same IN-filter the base path
    pushes to its scans, applied to the rollup rows.  With
    route_named_sets=True the set's own ranking aggregate routes too
    (the last fact scan in an otherwise fully-routed query)."""
    from mondrian_rest_spark import plancache
    from mondrian_rest_spark.planner import named_set_frame

    plancache.invalidate()
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales",
                        route_named_sets=True)
    mgr.register("cust_year", ("Customer.Customer", "Time.Year"))
    try:
        # the set's ranking aggregate reads the cached rollup, not the
        # fact
        ns = tpch.SALES.named_set("Top5 Customers")
        frame = named_set_frame(spark, sf_dir, tpch.SALES, ns)
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        assert "lineitem" not in plan.split("InMemoryRelation")[0]
        # named-set drilldown shortcut routes, row-identical to base
        qm = QueryModel(cube="Sales", measures=["Revenue", "Quantity"],
                        drilldown=["Top5 Customers"], nonempty=True)
        routed, src = mgr.route(qm)
        assert src == "cust_year"
        base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
        assert routed.columns == base.columns
        assert [tuple(r) for r in routed.collect()] == \
            [tuple(r) for r in base.collect()]
        # named-set CUT beside another drill routes too
        qm2 = QueryModel(cube="Sales", measures=["Revenue"],
                         drilldown=["Time.Year"],
                         cut=["[Top5 Customers]"], nonempty=True)
        routed2, src2 = mgr.route(qm2)
        assert src2 == "cust_year"
        base2 = aggregate(spark, sf_dir, tpch.CATALOG, qm2)
        assert [tuple(r) for r in routed2.collect()] == \
            [tuple(r) for r in base2.collect()]
        # a grain missing the set's level keeps the base path
        mgr2 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
        mgr2.register("nation_only", ("Customer.Nation",))
        _, src3 = mgr2.route(qm)
        assert src3 == "base"
        # dense + named set routes too (the ResolvedCut rides to the
        # dense fill, restricting same-dimension axis frames)
        qm4 = QueryModel(cube="Sales", measures=["Revenue"],
                         drilldown=["Time.Year"],
                         cut=["[Top5 Customers]"], nonempty=False)
        routed4, src4 = mgr.route(qm4)
        assert src4 == "cust_year"
        base4 = aggregate(spark, sf_dir, tpch.CATALOG, qm4)
        assert [tuple(r) for r in routed4.collect()] == \
            [tuple(r) for r in base4.collect()]
    finally:
        # deregister: later tests' named-set evaluations must not
        # route through this test's manager
        from mondrian_rest_spark.planner import _NS_ROUTERS
        _NS_ROUTERS.clear()
        plancache.invalidate()


def test_toppercent_topsum_tail_route(spark, sf_dir):
    """r13: whole-axis TOPPERCENT/TOPSUM/TAIL route — the shaping tail
    is the SAME planner._shape_axis code on both paths, so the routed
    prefix/suffix selection is bit-identical by construction.  Hidden
    ranking measures aggregate via the extras path; an approximate
    ranking measure keeps the base path (sketch estimates are not the
    base path's bits)."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("nation_year", ("Customer.Nation", "Time.Year"))
    for extra_kw in (
            {"top_percent": (60.0, "Revenue", False)},
            {"top_percent": (45.0, "Quantity", True)},   # hidden + BOTTOM
            {"top_sum": (5_000_000.0, "Revenue", False)},
            {"tail": 5},
            {"top_percent": (60.0, "Revenue", False), "tail": 2},
            {"tail": 3, "order": "Revenue", "order_desc": True},
    ):
        qm = QueryModel(cube="Sales", measures=["Revenue"],
                        drilldown=["Customer.Nation"], nonempty=True,
                        **extra_kw)
        routed, src = mgr.route(qm)
        assert src == "nation_year", (extra_kw, src)
        base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
        assert routed.columns == base.columns, extra_kw
        assert [tuple(r) for r in routed.collect()] == \
            [tuple(r) for r in base.collect()], extra_kw
    # approx-ranked TOPPERCENT keeps base (estimate bits differ)
    qm2 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Customer.Nation"], nonempty=True,
                     top_percent=(60.0, "Approx Customer Count", False))
    _, src2 = mgr.route(qm2)
    assert src2 == "base"


def test_children_axis_routes_through_rollup(spark, sf_dir):
    """r13: <member>.Children axes route — the resolution is pure
    catalog (drill the child level + cut the member), so _choose
    replicates it and the need includes the child level's columns AND
    the member's own level key.  Unresolvable/leaf forms keep the base
    path (and its 400s); dense keeps base."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("rn_year",
                 ("Customer.Region", "Customer.Nation", "Time.Year"))
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Time.Year"], nonempty=True,
                    children_of=["[Customer].[Region].[&2]"])
    routed, src = mgr.route(qm)
    assert src == "rn_year"
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert routed.columns == base.columns
    assert [tuple(r) for r in routed.collect()] == \
        [tuple(r) for r in base.collect()]
    # caption-matched member cut works too (grain carries captions)
    qm1 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     nonempty=True,
                     children_of=["[Customer].[Region].[ASIA]"])
    routed1, src1 = mgr.route(qm1)
    assert src1 == "rn_year"
    base1 = aggregate(spark, sf_dir, tpch.CATALOG, qm1)
    assert [tuple(r) for r in routed1.collect()] == \
        [tuple(r) for r in base1.collect()]
    # grain missing the child level -> base
    mgr2 = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr2.register("region_year", ("Customer.Region", "Time.Year"))
    _, src2 = mgr2.route(qm)
    assert src2 == "base"
    # leaf .Children keeps the base path's clear 400
    from mondrian_rest_spark.parser import ParseError
    qm3 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     nonempty=True,
                     children_of=["[Customer].[Customer].[&1]"])
    with pytest.raises(ParseError, match="leaf"):
        mgr.route(qm3)
    # dense .Children routes too: the member slice DEFINES the axis,
    # so the dense fill restricts the child member frame (axis_cuts)
    qm4 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     nonempty=False,
                     children_of=["[Customer].[Region].[&2]"])
    routed4, src4 = mgr.route(qm4)
    assert src4 == "rn_year"
    base4 = aggregate(spark, sf_dir, tpch.CATALOG, qm4)
    assert [tuple(r) for r in routed4.collect()] == \
        [tuple(r) for r in base4.collect()]


def test_generate_beside_axis_routes_with_marginal_rank(spark, sf_dir):
    """r13 regression (found by direct probe): a routed GENERATE
    beside ANOTHER drilled dimension must rank by the per-(parent,
    child) MARGINAL with dense_rank — exactly the base path — not by
    the cell within each other-key partition (which selects different
    children per year; a silent wrong answer that had survived since
    GENERATE routing landed)."""
    mgr = RollupManager(spark, sf_dir, tpch.CATALOG, "Sales")
    mgr.register("rny",
                 ("Customer.Region", "Customer.Nation", "Time.Year"))
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Time.Year"], nonempty=True,
                    generate_top=("Customer.Region", 2, "Revenue",
                                  False))
    routed, src = mgr.route(qm)
    assert src == "rny"
    base = aggregate(spark, sf_dir, tpch.CATALOG, qm)
    assert sorted(tuple(r) for r in routed.collect()) == \
        sorted(tuple(r) for r in base.collect())
    # .Children beside GENERATE on the SAME dim keeps the base 400
    qm2 = QueryModel(cube="Sales", measures=["Revenue"], drilldown=[],
                     nonempty=True,
                     children_of=["[Customer].[Region].[&2]"],
                     generate_top=("Customer.Region", 2, "Revenue",
                                   False))
    from mondrian_rest_spark.parser import ParseError
    with pytest.raises(ParseError, match="same"):
        mgr.route(qm2)
    # non-additive marginal (Max Quantity beside years) keeps the
    # base path's clear 400
    qm3 = QueryModel(cube="Sales", measures=["Revenue"],
                     drilldown=["Time.Year"], nonempty=True,
                     generate_top=("Customer.Region", 2, "Max Quantity",
                                   False))
    with pytest.raises(ParseError, match="additive"):
        mgr.route(qm3)


def test_advisor_counts_new_routable_forms():
    """r13: the advisor's need computation mirrors the router's new
    coverage — .Children, named-set cuts (nonempty), TOPPERCENT —
    instead of dropping those entries as dead demand."""
    from mondrian_rest_spark.plans.advisor import recommend_rollups

    children = QueryModel(cube="Sales", measures=["Revenue"],
                          drilldown=["Time.Year"], nonempty=True,
                          children_of=["[Customer].[Region].[&2]"])
    tp = QueryModel(cube="Sales", measures=["Revenue"],
                    drilldown=["Customer.Nation"], nonempty=True,
                    top_percent=(60.0, "Quantity", False))
    ns_cut = QueryModel(cube="Sales", measures=["Revenue"],
                        drilldown=["Time.Year"],
                        cut=["[Top5 Customers]"], nonempty=True)
    recs = recommend_rollups(tpch.SALES, [children] * 4 + [tp] * 3
                             + [ns_cut] * 2, max_rollups=3)
    grains = [set(r.grain) for r in recs]
    # children demand covered: child level (Nation) + member level
    # (Region) + Year all inside some advised grain
    assert any({"Customer.Region", "Customer.Nation",
                "Time.Year"} <= g for g in grains)
    # tp: its ranking measure is re-aggregable, the drill is covered
    assert any({"Customer.Nation"} <= g for g in grains)
    # ns cut: the set's level joins the need
    assert any({"Customer.Customer", "Time.Year"} <= g for g in grains)
    # an approx-ranked TOPPERCENT entry stays unroutable demand
    tp_approx = QueryModel(cube="Sales", measures=["Revenue"],
                           drilldown=["Customer.Nation"], nonempty=True,
                           top_percent=(60.0, "Approx Customer Count",
                                        False))
    assert recommend_rollups(tpch.SALES, [tp_approx] * 5) == []
    # r14: grouping-sets axes count — the (parent, child) pair joins
    # the need, dense included; DDLTOP combos stay unroutable
    gs = QueryModel(cube="Sales", measures=["Revenue"],
                    gs_axes=[("Customer.Region", None)],
                    drilldown=["Time.Year"], nonempty=False)
    recs_gs = recommend_rollups(tpch.SALES, [gs] * 5)
    assert recs_gs and {"Customer.Region", "Customer.Nation",
                        "Time.Year"} <= set(recs_gs[0].grain)
    gs_top = QueryModel(cube="Sales", measures=["Revenue"],
                        gs_axes=[("Customer.Region", None)],
                        gs_top=[("Customer.Region", 2, "Revenue",
                                 False)], nonempty=True)
    assert recommend_rollups(tpch.SALES, [gs_top] * 5) == []
    # virtual gs entries map to per-base-cube gs demand (r14 — the
    # subs route their Expand from rollup rows)
    from mondrian_rest_spark.plans.advisor import resolve_virtual_entries
    vgs = QueryModel(cube="Orders and Sales", measures=["Revenue"],
                     gs_axes=[("Customer.Region", None)],
                     nonempty=False)
    mapped = resolve_virtual_entries(tpch.CATALOG, tpch.SALES,
                                     [vgs] * 3)
    assert len(mapped) == 3
    assert mapped[0].gs_axes == [("Customer.Region", None)]
    recs_v = recommend_rollups(tpch.SALES, mapped)
    assert recs_v and {"Customer.Region",
                       "Customer.Nation"} <= set(recs_v[0].grain)
