"""The plan-time cache (mondrian_rest_spark/plancache.py): entries are
stamped with the mtime of the files they were computed from, so a
rewritten table is never answered from its old contents; the cache is
a bounded LRU that unpersists the persisted frames it drops."""

import os
import shutil
import sys
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from mondrian_rest_spark import plancache, planner, tpch
from mondrian_rest_spark.parser import ParseError
from mondrian_rest_spark.planner import aggregate
from mondrian_rest_spark.query import QueryModel
from mondrian_rest_spark.sources import registry
from mondrian_rest_spark.sources.registry import load_table


def _return_flag_cut(spark, data, flag):
    qm = QueryModel(cube="Sales", measures=["Revenue"],
                    cut=[f"[Return Flag].[Return Flag].[&{flag}]"])
    return aggregate(spark, data, tpch.CATALOG, qm).collect()


def test_rewritten_fact_is_seen_without_flush(spark, sf_dir, tmp_path):
    """Rewrite lineitem.parquet in place, with no /flush: the next
    named-set evaluation and the next Return Flag cut validation must
    read the new file, not the member keys memoized from the old one."""
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)
    cube = tpch.CATALOG.cube("Sales")
    ns = cube.named_set("Top5 Customers")
    old_top = planner.named_set_keys(spark, data, cube, ns)
    assert _return_flag_cut(spark, data, "A")
    with pytest.raises(ParseError, match="not found"):
        _return_flag_cut(spark, data, "Z")

    # the rewrite: every 'A' return flag becomes 'Z', and the line
    # items of a customer outside the top five are repeated until that
    # customer leads the ranking
    path = os.path.join(data, "lineitem.parquet")
    li = pq.read_table(path)
    orders = pq.read_table(os.path.join(data, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey"])
    lineitem_orders = set(li["l_orderkey"].to_pylist())
    cust = next(c for o, c in zip(orders["o_orderkey"].to_pylist(),
                                  orders["o_custkey"].to_pylist())
                if c not in old_top and o in lineitem_orders)
    okeys = pa.array([o for o, c in zip(orders["o_orderkey"].to_pylist(),
                                        orders["o_custkey"].to_pylist())
                      if c == cust], li.schema.field("l_orderkey").type)
    i = li.schema.get_field_index("l_returnflag")
    li = li.set_column(i, "l_returnflag", pc.replace_substring(
        li["l_returnflag"], "A", "Z"))
    boosted = li.filter(pc.is_in(li["l_orderkey"], value_set=okeys))
    before = os.stat(path)
    pq.write_table(pa.concat_tables([li] + [boosted] * 500), path)
    # a visible mtime step even on a coarse-grained filesystem
    os.utime(path, ns=(before.st_atime_ns,
                       before.st_mtime_ns + 1_000_000_000))

    fresh = [r[0] for r in
             planner.named_set_frame(spark, data, cube, ns).collect()]
    assert fresh[0] == cust and fresh != old_top
    assert planner.named_set_keys(spark, data, cube, ns) == fresh
    assert _return_flag_cut(spark, data, "Z")
    with pytest.raises(ParseError, match="not found"):
        _return_flag_cut(spark, data, "A")


def test_lru_bound_and_release_of_persisted_frames(spark, sf_dir):
    """Past MAX_ENTRIES the least recently used entry goes and is
    recomputed on its next use; a persisted parent-child closure that
    is evicted or invalidated is unpersisted, and one still in use by a
    cached parent-child select is not evicted before it."""
    plancache.invalidate()
    calls: list = []

    def value(k):
        calls.append(k)
        return k

    for k in range(plancache.MAX_ENTRIES + 1):
        plancache.get("test", k, [], lambda k=k: value(k))
    assert len(plancache._ENTRIES) == plancache.MAX_ENTRIES
    calls.clear()
    assert plancache.get("test", plancache.MAX_ENTRIES, [],
                         lambda: value(-1)) == plancache.MAX_ENTRIES
    assert calls == []                          # newest: still cached
    assert plancache.get("test", 0, [], lambda: value(0)) == 0
    assert calls == [0]                         # oldest: recomputed

    geo = tpch.CATALOG.cube("Orders").dimension("Geo Tree")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    prior = persisted().size()
    planner.pc_closure_frame(spark, sf_dir, geo).count()
    assert persisted().size() > prior
    for k in range(plancache.MAX_ENTRIES):      # evict the closure
        plancache.get("test", ("evict", k), [], lambda: None)
    assert persisted().size() == prior
    planner.pc_closure_frame(spark, sf_dir, geo).count()
    assert persisted().size() > prior
    plancache.invalidate()
    assert persisted().size() == prior

    # a parent-child select kept hot while the cache fills past its
    # bound must still read a persisted closure
    level = geo.hierarchies[0].levels[0]
    planner._pc_select(spark, sf_dir, geo, [level])
    for k in range(plancache.MAX_ENTRIES):
        plancache.get("test", ("fill", k), [], lambda: None)
        if k % 64 == 0:
            planner._pc_select(spark, sf_dir, geo, [level])
    sel = planner._pc_select(spark, sf_dir, geo, [level])
    assert persisted().size() > prior
    assert "InMemoryRelation" in \
        sel._jdf.queryExecution().withCachedData().toString()
    plancache.invalidate()
    assert persisted().size() == prior


def test_partitioned_source_layout_is_one_entry(spark, sf_dir, tmp_path):
    """The part files of a partitioned source share one layout entry,
    so a many-file table takes one cache slot, not one per file."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    parts = tmp_path / "documents.parquet"
    parts.mkdir()
    n = 12
    step = -(-docs.num_rows // n)
    for i in range(n):
        pq.write_table(docs.slice(i * step, step),
                       str(parts / f"part-{i:05d}.parquet"))
    plancache.invalidate()
    src = load_table(spark, str(tmp_path), "documents")
    assert len(src.inputFiles()) == n
    for _ in range(2):
        registry.maybe_spread_compute(src, src)
    layouts = [k for k in plancache._ENTRIES if k[0] == "scan_layout"]
    assert len(layouts) == 1
    assert plancache._ENTRIES[layouts[0]][1][1] == docs.num_rows
    plancache.invalidate()


def test_concurrent_miss_keeps_first_stored_value(spark):
    """A miss that finds the key stored by another request while it
    computed returns that stored value and unpersists its own frame."""
    plancache.invalidate()
    frames = {}

    def inner():
        frames["first"] = spark.range(3).persist()
        return frames["first"]

    def outer():
        plancache.get("race", 0, [], inner)   # the other request wins
        frames["second"] = spark.range(4).persist()
        return frames["second"]

    assert plancache.get("race", 0, [], outer) is frames["first"]
    assert frames["first"].is_cached and not frames["second"].is_cached
    assert plancache.get("race", 0, [], outer) is frames["first"]
    plancache.invalidate()
    assert not frames["first"].is_cached


def test_concurrent_gets_keep_values_and_bound():
    """More threads than cores hammer overlapping keys through a small
    cache with frequent thread switches: every get returns the value of
    its own key and the cache never ends above its bound."""
    old_interval = sys.getswitchinterval()
    old_cap = plancache.MAX_ENTRIES
    wrong: list = []

    def worker(seed):
        for i in range(2000):
            k = (seed * 7 + i) % 48
            if plancache.get("stress", k, [], lambda: k * k) != k * k:
                wrong.append(k)

    sys.setswitchinterval(1e-6)
    plancache.MAX_ENTRIES = 16
    try:
        threads = [threading.Thread(target=worker, args=(s,))
                   for s in range(2 * (os.cpu_count() or 1) + 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert not wrong
        assert len(plancache._ENTRIES) <= plancache.MAX_ENTRIES
    finally:
        sys.setswitchinterval(old_interval)
        plancache.MAX_ENTRIES = old_cap
        plancache.invalidate()
