"""Aggregate-table routing: the Spark analog of Mondrian AggName
(reference foodmart.xml:128-160 — pre-aggregated rollup tables with
column mappings, routed to when a query's grain is covered).

Engine-level (pure Python) routing per SURVEY §4: no Catalyst rule
needed.  A rollup is a materialized (cached or parquet-written)
aggregate at a declared grain; a query routes to it when

  1. its group-by keys ⊆ the rollup grain,
  2. every requested measure is re-aggregable from the rollup
     (sum-of-sums, sum-of-counts, min-of-mins, max-of-maxs —
     NEVER distinct-count, which is non-additive: SURVEY §7.5.3),
  3. its cuts only reference levels present in the grain.

At 100 TB this is the difference between scanning the fact and
scanning a table 4-6 orders of magnitude smaller; rollups would be
written as partitioned/bucketed parquet (`persist_path`), refreshed by
an incremental job.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import plancache
from ..catalog import Catalog, Cube, Measure
from ..parser import (DrilldownSpec, ParseError, parse_cut,
                      parse_drilldown, parse_measure_filter)
from ..planner import (ResolvedDrill, _aggregate_cube, _apply_filter_exprs,
                       _measure_alias, _order_column, _ref_alias,
                       _resolve_cut, _resolve_drill, _resolve_level,
                       _split_measures, _tmpl_refs, aggregate, held_members)
from ..query import QueryModel

#: re-aggregation of rollup rows at a coarser grain.  hll_sketch is
#: the mergeable companion of approx_count_distinct: the union of the
#: partial sketches IS the sketch of the union, so approx-distinct
#: routes through rollups while exact count_distinct stays base-scan
#: (non-additive; VERDICT r7 #4).
_REAGG = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max,
          "hll_sketch": F.hll_union_agg}

#: suffix for persisted sketch columns ("<measure alias>__hll")
_HLL_SUFFIX = "__hll"


def _fs(spark: SparkSession, path: str):
    """(Path, FileSystem) through the Hadoop API so the commit
    protocol works on any FS the session can write (local, HDFS, S3A),
    not just the local disk the tests use."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _rm_path(spark: SparkSession, path: str) -> None:
    p, fs = _fs(spark, path)
    fs.delete(p, True)


def _exists(spark: SparkSession, path: str) -> bool:
    p, fs = _fs(spark, path)
    return bool(fs.exists(p))


def _touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (atomic create on HDFS; a single
    PUT on object stores)."""
    p, fs = _fs(spark, path)
    fs.create(p, True).close()


@dataclass
class Rollup:
    name: str
    grain: tuple[str, ...]            # drilldown specs, e.g. ("Customer.Nation", "Time.Year")
    frame: DataFrame = None
    key_cols: list[str] = field(default_factory=list)
    measures: list[Measure] = field(default_factory=list)
    rows: int = 0                     # materialized cardinality (cost key)
    persist_path: str | None = None
    partition_col: str | None = None  # grain alias the layout partitions on
    applied_tags: set = field(default_factory=set)  # in-memory replay guard


class RollupManager:
    """Materializes rollups for a cube and transparently routes
    queries to the smallest covering rollup, falling back to the base
    fact otherwise."""

    def __init__(self, spark: SparkSession, sf_dir: str, cat: Catalog,
                 cube_name: str, materialize_dir: str | None = None,
                 bucket_db: str | None = None,
                 route_named_sets: bool = False):
        import dataclasses
        self.spark = spark
        self.sf_dir = sf_dir
        self.cat = cat
        #: where advisor-driven materializations persist (r11, VERDICT
        #: r10 #7) — partitioned layouts need a real path; None keeps
        #: /advisor/materialize on the in-memory persist() path
        self.materialize_dir = materialize_dir
        #: database for advisor-driven BUCKETED base-fact layouts (r12,
        #: VERDICT r11 #4): when set, /advisor/materialize may write
        #: the fact + most-joined bridge table bucketed on the join key
        #: here and route engine loads to them via MRS_BUCKETED_DB —
        #: the co-located zero-Exchange fact join.  None disables.
        self.bucket_db = bucket_db
        self.cube: Cube = cat.cube(cube_name)
        # build-side cube copy with one synthetic hll_sketch measure
        # per approx_count_distinct measure: rollup layouts persist
        # the mergeable sketch next to the numeric columns
        sketches = tuple(
            dataclasses.replace(m, name=m.name + " HLL",
                                alias=m.alias + _HLL_SUFFIX,
                                agg="hll_sketch", result_cast=None,
                                format_string=None)
            for m in self.cube.measures
            if m.agg == "approx_count_distinct")
        self._build_cube = dataclasses.replace(
            self.cube, measures=self.cube.measures + sketches)
        self._sketches = sketches
        self.rollups: list[Rollup] = []
        # named-set evaluation routing (r13, OPT-IN): computed named
        # sets' ranking aggregates route through this manager's
        # rollups too (planner._NS_ROUTERS) — the last fact scan in an
        # otherwise fully-routed query.  Opt-in because registration
        # makes THIS manager the cube's set-evaluation authority for
        # the whole session: correct for an app whose appends flow
        # through the manager (rollups are then FRESHER than the base
        # parquet), wrong for ad-hoc managers holding appended state a
        # concurrent base-path consumer shouldn't see.
        if route_named_sets:
            self.register_as_authority()
        #: measured per-level member counts, filled at rollup-build
        #: time (VERDICT r8 #5): {(dim_name, level_name): n} — the
        #: advisor's level_cardinality input, so grain scoring uses
        #: DATA instead of the level-count proxy.  approx_count_
        #: distinct over the already-materialized rollup frame: one
        #: tiny agg per register(), never a fact scan.
        self.level_stats: dict[tuple, int] = {}
        #: callbacks run after every append() — the HTTP layer hangs
        #: its result-cache invalidation here so a routed app never
        #: serves pre-append aggregates from its driver cache
        self.invalidation_hooks: list = []

    def register_as_authority(self, replace: bool = True) -> None:
        """Make THIS manager the cube's session-wide evaluation
        authority (planner._NS_ROUTERS): computed named sets rank over
        its rollups, and degenerate cut-member validation consults a
        covering rollup instead of scanning the fact's key column at
        plan time (VERDICT r13 #2).  The REST app registers its own
        manager automatically (api.create_app) — it owns the session's
        appends, so the documented staleness concern doesn't apply.

        Identity guard (VERDICT r13 #5): the key is (applicationId,
        sf_dir, cube name), so two different managers — e.g. two
        Catalog objects sharing a cube name over one data dir — would
        otherwise collide SILENTLY.  Re-registration by a different
        manager instance replaces the authority with a warning when
        ``replace=True`` (deterministic latest-wins, what a restarted
        app wants), else raises."""
        from ..planner import _NS_ROUTERS
        key = (self.spark.sparkContext.applicationId, self.sf_dir,
               self.cube.name)
        prev = _NS_ROUTERS.get(key)
        if prev is not None and prev is not self:
            if not replace:
                raise ValueError(
                    f"a different RollupManager is already the "
                    f"evaluation authority for {key}; pass "
                    "replace=True to take over")
            import warnings
            warnings.warn(
                f"replacing the evaluation authority for {key} with a "
                "different RollupManager instance", stacklevel=2)
        _NS_ROUTERS[key] = self

    def register(self, name: str, grain: tuple[str, ...],
                 persist_path: str | None = None,
                 partition_col: str | None = None) -> Rollup:
        """Materialize a rollup at the given grain holding every
        re-aggregable measure of the cube (AggName's measure column
        mappings, foodmart.xml:142-159).

        ``partition_col`` (requires ``persist_path``) lays the rollup
        out partitioned by that grain alias — typically the time key —
        which is what makes :meth:`append` an O(affected-partitions)
        dynamic overwrite instead of a rebuild."""
        measures = ([m for m in self.cube.measures if m.agg in _REAGG]
                    + list(self._sketches))
        qm = QueryModel(cube=self.cube.name,
                        measures=[m.name for m in measures],
                        drilldown=list(grain), nonempty=True)
        frame = _aggregate_cube(self.spark, self.sf_dir, self._build_cube, qm)
        key_cols = [c for c in frame.columns
                    if c not in {m.alias for m in measures}]
        if partition_col and not persist_path:
            raise ValueError("partition_col requires persist_path")
        if partition_col and partition_col not in key_cols:
            raise ValueError(
                f"partition_col {partition_col!r} is not a grain key "
                f"(have {key_cols})")
        if persist_path:
            w = frame.write.mode("overwrite")
            if partition_col:
                w = w.partitionBy(partition_col)
            w.parquet(persist_path)
            frame = self.spark.read.parquet(persist_path)
        else:
            frame = frame.persist()
        # row count doubles as the materialization action (the persist
        # fills here) and the routing cost key — Mondrian AggName picks
        # the smallest covering aggregate the same way
        r = Rollup(name, grain, frame, key_cols, measures,
                   rows=frame.count(), persist_path=persist_path,
                   partition_col=partition_col)
        self.rollups.append(r)
        # measured per-level cardinalities for the advisor (r9): one
        # approx_count_distinct agg over the grain keys of the frame
        # just materialized — rollup-sized, the fact was already paid
        key_by_level = {}
        for spec in grain:
            rd = _resolve_drill(self.cube, parse_drilldown(spec), False)
            key_by_level[(rd.dimension.name, rd.level.name)] = \
                rd.level.key_alias
        if key_by_level:
            stats = frame.agg(*[
                F.approx_count_distinct(a).alias(a)
                for a in set(key_by_level.values())]).collect()[0]
            for lvl_key, alias in key_by_level.items():
                self.level_stats[lvl_key] = max(
                    self.level_stats.get(lvl_key, 0), int(stats[alias]))
        return r

    # -- incremental maintenance ------------------------------------------

    def append(self, new_facts: DataFrame,
               batch_tag: str | None = None) -> dict[str, int]:
        """Fold a batch of APPENDED fact rows into every registered
        rollup without rescanning the base fact (VERDICT r5 item 8:
        an appended fact partition must not silently stale rollups).

        Because every rollup measure is re-aggregable by construction
        (sum/count/min/max are all append-monotone — _REAGG), the delta
        is just the batch aggregated at the rollup's grain (one pass
        over the batch, dims joined as usual), merged by re-combining
        with the existing rollup rows.  Partitioned layouts overwrite
        ONLY the partitions the batch touches (dynamic partition
        overwrite via a staging pin — never a full rebuild, and never a
        read-and-overwrite of the same files in one job); cached
        rollups re-persist the merged frame.  At 100 TB: the cost is
        O(batch + affected rollup partitions), independent of base
        fact size.  Returns {rollup name: delta row count}.

        ``batch_tag`` makes the merge an exactly-once durable commit
        per rollup (VERDICT r6 item 1 — the merge alone is additive,
        hence NOT replay-safe).  Write-ahead protocol per (rollup,
        tag):

          1. marker exists  -> batch already fully applied: skip.
          2. staged merge (``<path>__batch_<tag>``) missing -> compute
             it from the CURRENT layout and write it (the staging pin
             doubles as the write-ahead copy of the post-merge values).
          3. overwrite the layout from staging — pure replay of staged
             bytes, so re-running it after any crash is idempotent.
          4. atomically create the marker (``<path>__applied_<tag>``).

        A crash at any point replays into the correct branch: before
        the staged ``_SUCCESS`` it recomputes from the still-unmerged
        layout; between staging and marker it re-applies the SAME
        staged values (overwrite, not add); after the marker it
        no-ops.  Applied staging dirs are retained as the replay
        source until :meth:`gc_staging` reclaims them (production: a
        retention job; they hold only touched-partition aggregates).
        Unlike a versioned-dir pointer swap this keeps the commit
        O(touched partitions), not O(rollup).  In-memory rollups can't
        be durable; they keep a process-local applied set and need a
        ``persist_path`` for restart-safe streaming ingest.
        """
        out: dict[str, int] = {}
        for r in self.rollups:
            marker = staged = None
            if batch_tag is not None and r.persist_path:
                base = r.persist_path.rstrip("/")
                marker = f"{base}__applied_{batch_tag}"
                staged = f"{base}__batch_{batch_tag}"
                if _exists(self.spark, marker):
                    out[r.name] = 0
                    continue
            elif batch_tag is not None and batch_tag in r.applied_tags:
                out[r.name] = 0
                continue
            qm = QueryModel(cube=self.cube.name,
                            measures=[m.name for m in r.measures],
                            drilldown=list(r.grain), nonempty=True)
            delta = _aggregate_cube(self.spark, self.sf_dir,
                                    self._build_cube, qm,
                                    fact_df=new_facts)
            if r.persist_path and r.partition_col:
                staging = staged or (r.persist_path.rstrip("/")
                                     + "__staging_" + uuid.uuid4().hex)
                if staged is None or not _exists(self.spark,
                                                 staging + "/_SUCCESS"):
                    vals = [row[0] for row in
                            delta.select(r.partition_col).distinct().collect()]
                    # isin() is null-hostile (NULL IN (...) is never
                    # true): a batch aggregating to a null grain key
                    # must still pull the existing null-partition rows
                    # into the merge, or the dynamic overwrite would
                    # replace that partition's totals with delta-only
                    # values
                    pc = F.col(r.partition_col)
                    nn = [v for v in vals if v is not None]
                    cond = pc.isin(nn) if nn else F.lit(False)
                    if any(v is None for v in vals):
                        cond = cond | pc.isNull()
                    old_slice = r.frame.filter(cond)
                    merged = self._recombine(
                        r, old_slice.unionByName(
                            delta.select(*old_slice.columns)))
                    # stage + re-read: Spark refuses (rightly) to
                    # overwrite a path while reading it; the staging
                    # write also pins the merged slice so the dynamic
                    # overwrite below can't re-evaluate against
                    # half-replaced files.  Untagged staging is unique
                    # per call so concurrent appends (or two managers
                    # over one layout) can't clobber each other, and is
                    # removed once the final write lands.
                    merged.write.mode("overwrite").parquet(staging)
                (self.spark.read.parquet(staging).write
                     .mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy(r.partition_col)
                     .parquet(r.persist_path))
                if staged is not None:
                    _touch(self.spark, marker)
                else:
                    _rm_path(self.spark, staging)
                r.frame = self.spark.read.parquet(r.persist_path)
            elif r.persist_path:
                staging = staged or (r.persist_path.rstrip("/")
                                     + "__staging_" + uuid.uuid4().hex)
                if staged is None or not _exists(self.spark,
                                                 staging + "/_SUCCESS"):
                    merged = self._recombine(
                        r, r.frame.unionByName(
                            delta.select(*r.frame.columns)))
                    merged.write.mode("overwrite").parquet(staging)
                (self.spark.read.parquet(staging).write
                     .mode("overwrite").parquet(r.persist_path))
                if staged is not None:
                    _touch(self.spark, marker)
                else:
                    _rm_path(self.spark, staging)
                r.frame = self.spark.read.parquet(r.persist_path)
            else:
                old = r.frame
                merged = self._recombine(
                    r, old.unionByName(delta.select(*old.columns))).persist()
                merged.count()
                old.unpersist()
                r.frame = merged
                if batch_tag is not None:
                    r.applied_tags.add(batch_tag)
            out[r.name] = delta.count()
            r.rows = r.frame.count()
        # appended facts can add/extend members, and named sets and
        # member validation may read this manager's in-memory rollup
        # frames, which have no file whose mtime would move — drop the
        # plan-time memos like /flush does instead of serving old keys
        plancache.invalidate()
        for hook in self.invalidation_hooks:
            hook()
        return out

    def gc_staging(self) -> int:
        """Reclaim staged-merge dirs whose batch marker exists (the
        batch is durably committed, so the write-ahead copy is
        redundant).  Safe to run any time — never touches an unmarked
        staging dir, which may still be a crash-replay source.  Returns
        the number of directories removed."""
        removed = 0
        for r in self.rollups:
            if not r.persist_path:
                continue
            base = r.persist_path.rstrip("/")
            p, fs = _fs(self.spark, base + "__applied_*")
            for st in fs.globStatus(p) or []:
                name = st.getPath().getName()
                tag = name.split("__applied_", 1)[1]
                staged = f"{base}__batch_{tag}"
                if _exists(self.spark, staged):
                    _rm_path(self.spark, staged)
                    removed += 1
        return removed

    def _recombine(self, r: Rollup, df: DataFrame) -> DataFrame:
        """Re-aggregate partial rollup rows (old ∪ delta) at the
        rollup's own grain: sum-of-sums / sum-of-counts / min-of-mins /
        max-of-maxs, decimals kept order-independent."""
        aggs = []
        for m in r.measures:
            col = _REAGG[m.agg](F.col(m.alias))
            if m.agg == "sum" and m.result_cast:
                col = (F.sum(F.col(m.alias).cast("decimal(25,6)"))
                       .cast(m.result_cast))
            aggs.append(col.alias(m.alias))
        return df.groupBy(*r.key_cols).agg(*aggs)

    # -- routing ----------------------------------------------------------

    def route(self, qm: QueryModel) -> tuple[DataFrame, str]:
        """Return (result, source) where source is the rollup name used
        or 'base'.

        VIRTUAL cubes route too (r11): when the query's virtual cube
        drills across this manager's base cube, the planner threads the
        manager into the per-cube sub-aggregates (Mondrian routes every
        base cube's cells through its AggName tables the same way); the
        source reads ``virtual:<cube>=<rollup>`` when any sub routed."""
        qm = self._rewrite_ptd(qm)
        chosen = self._choose(qm)
        if chosen is None:
            routers = None
            vc = self.cat.virtual_cube(qm.cube)
            if vc is not None and self.cube.name in vc.cube_names:
                routers = {self.cube.name: self}
            df = aggregate(self.spark, self.sf_dir, self.cat, qm,
                           routers=routers)
            srcs = getattr(df, "_mrs_virtual_sources", None)
            if srcs and any(s != "base" for s in srcs.values()):
                return df, "virtual:" + ",".join(
                    f"{c}={s}" for c, s in sorted(srcs.items()))
            return df, "base"
        r, lifts = chosen
        return self._reaggregate(r, qm, lifts), r.name

    def _rewrite_ptd(self, qm: QueryModel) -> QueryModel:
        """Key-order time idioms route since r14 via the SHARED
        planner resolvers (resolve_ptd / resolve_lastperiods /
        resolve_member_lag): each rewrites to pure drilldown + cut
        strings — exactly what the base path executes — so rewriting
        BEFORE _choose lets the grain check and _reaggregate serve
        them like any other query.  PTD routes NONEMPTY only (its
        ancestor cuts restrict the dense axis frame through axis_cuts
        the QueryModel can't carry); LASTPERIODS and .Lag/.Lead cuts
        sit AT the axis level, which the dense member-frame filter
        applies identically on both paths, so they route dense too.
        Resolution 400s (absent/ambiguous member, out-of-range shift)
        raise here exactly as the base path would."""
        ptd = getattr(qm, "periods_to_date", []) or []
        lps = getattr(qm, "lastperiods", []) or []
        lags = getattr(qm, "member_lags", []) or []
        if (qm.cube != self.cube.name or qm.parents
                or not (lps or lags or (ptd and qm.nonempty))):
            return qm
        if ptd and not qm.nonempty:
            return qm        # dense PTD stays on base (axis_cuts)
        import dataclasses
        from ..planner import (resolve_lastperiods, resolve_member_lag,
                               resolve_ptd)
        drilldown = list(qm.drilldown)
        cut = list(qm.cut)

        def _drill(dim, hier, level):
            hseg = ([hier.name]
                    if hier.name != dim.default_hierarchy().name
                    else [])
            drilldown.append(".".join([dim.name] + hseg + [level.name]))

        for lp_path, n_periods in lps:
            dim, hier, level, cut_str = resolve_lastperiods(
                self.spark, self.sf_dir, self.cube, lp_path, n_periods)
            _drill(dim, hier, level)
            cut.append(cut_str)
        for anchor_name, m_path in ptd:
            dim, hier, level, cut_strs = resolve_ptd(
                self.spark, self.sf_dir, self.cube, anchor_name,
                m_path)
            _drill(dim, hier, level)
            cut += cut_strs
        for lg_path, shift in lags:
            dim, hier, level, cut_str = resolve_member_lag(
                self.spark, self.sf_dir, self.cube, lg_path, shift)
            _drill(dim, hier, level)
            cut.append(cut_str)
        return dataclasses.replace(qm, periods_to_date=[],
                                   lastperiods=[], member_lags=[],
                                   drilldown=drilldown, cut=cut)

    def _measure_names(self, qm: QueryModel) -> list[str]:
        """Display measures + the hidden measures HAVING/ORDER pull in
        (mirrors the planner's extra_names logic so routed queries
        aggregate exactly what the base path would)."""
        requested = list(qm.measures) or [self.cube.default_measure.name]
        extras: list[str] = []
        for fs in qm.filter:
            try:
                mname = parse_measure_filter(fs).measure
                _measure_alias(self.cube, mname)
            except (ParseError, KeyError):
                continue
            if mname not in requested and mname not in extras:
                extras.append(mname)
        for tmpl in qm.filter_exprs:
            for ref in _tmpl_refs(tmpl):
                # unknown measure -> ParseError here; the base path
                # raises the same 400, so routing stays transparent
                _ref_alias(self.cube, ref)
                if ref not in requested and ref not in extras:
                    extras.append(ref)
        if (qm.order and "." not in qm.order and qm.order not in requested
                and qm.order not in extras):
            try:
                _measure_alias(self.cube, qm.order)
                extras.append(qm.order)
            except KeyError:
                pass
        if qm.generate_top is not None and qm.generate_top[2] is not None:
            g_m = qm.generate_top[2]
            if g_m not in requested and g_m not in extras:
                try:
                    _measure_alias(self.cube, g_m)
                    extras.append(g_m)
                except KeyError:
                    pass
        for tp in (qm.top_percent, qm.top_sum):
            # TOPPERCENT/TOPSUM ranking measure (r13): the cumulative
            # window needs its column even when not displayed
            if tp is not None and tp[1] not in requested \
                    and tp[1] not in extras:
                _measure_alias(self.cube, tp[1])   # unknown -> base 400
                extras.append(tp[1])
        for pname in qm.nonempty_measures:
            if pname not in requested and pname not in extras:
                try:
                    _measure_alias(self.cube, pname)
                    extras.append(pname)
                except KeyError:
                    pass
        return requested + extras

    def _generate_levels(self, qm: QueryModel):
        """(parent, child) Level pair a GENERATE query drills, or None
        when the query can't route transparently: unresolvable paths /
        leaf parents / same-dim drills reproduce the base path's 400
        there, and a ranking measure that is itself approximate
        (approx_count_distinct) must rank on the base path's estimate,
        not the merged-sketch one."""
        if getattr(qm, "generate_inner", None) is not None:
            # non-default inner forms (HEAD/TAIL, DESCENDANTS target):
            # the window keys differ from the (parent, child) pair this
            # routing path materializes — serve them from base
            return None
        g_path, _, g_m, _ = qm.generate_top
        segs = g_path.split(".")
        hier_name = segs[1] if len(segs) == 3 else None
        try:
            dim, hier, level = _resolve_level(
                self.cube, segs[0], hier_name, segs[-1])
            m_alias = _measure_alias(self.cube, g_m)
        except Exception:
            return None
        if any(m.alias == m_alias and m.agg == "approx_count_distinct"
               for m in self.cube.measures):
            return None
        if (qm.drilldown or qm.children_of) and any(
                m.alias == m_alias and m.agg not in ("sum", "count")
                for m in self.cube.measures):
            # beside other axis dimensions the rank needs the MARGINAL
            # — only additive measures sum over the other keys; the
            # base path 400s the rest, so stay there (r13)
            return None
        idx = hier.level_index(level.name)
        if idx + 1 >= len(hier.levels):
            return None
        for d in qm.drilldown:
            try:
                rd = _resolve_drill(self.cube, parse_drilldown(d), False)
            except Exception:
                return None
            if rd.dimension.name == dim.name:
                return None
        for ch in qm.children_of:
            # a .Children axis on the GENERATE dimension is the same
            # same-dim conflict the base path 400s (r13: children_of
            # routes, so the conflict must be visible here too)
            from ..parser import parse_segments
            try:
                segs = parse_segments(ch)
                if segs and segs[0].lower() == dim.name.lower():
                    return None
            except Exception:
                return None
        return [level, hier.levels[idx + 1]]

    def _choose(self, qm: QueryModel) -> tuple[Rollup, list] | None:
        """The smallest rollup covering ``qm`` and its lifts (see
        :meth:`_lifts`), or None to answer from the base fact."""
        if qm.cube != self.cube.name:
            return None  # a manager routes exactly one cube
        if (qm.properties or qm.caption
                or qm.property_filters or getattr(qm, "nav_filters", [])
                or getattr(qm, "visual_totals", None)):
            # nav_filters become cuts only inside _aggregate_cube, so
            # the grain check below cannot see them; VISUALTOTALS adds
            # children cuts the check can't see either — route to base
            return None
        if getattr(qm, "gs_axes", None) and (
                getattr(qm, "gs_top", []) or qm.generate_top is not None
                or qm.parents):
            # grouping-sets axes ROUTE since r14 (the Expand
            # re-aggregates from rollup rows — sum-of-sums is exact at
            # every grouping set), but DDLTOP's rank basis (slicer-
            # context sub-aggregates beside TOPCOUNT axes) and the
            # parents/GENERATE combinations the base path 400s stay on
            # base so errors and rank semantics are identical
            return None
        # dense GENERATE routes since r14: _reaggregate densifies the
        # (parent, child) pair frame over the routed nonempty
        # aggregate FIRST, then ranks nulls-last with the child-key
        # tie-break — the exact base-path composition.
        if qm.parents and qm.generate_top is not None:
            # GENERATE's (parent, child) pair resolution does not model
            # the parents=true ancestor chain — route to base
            return None
        # axis idioms needing DIM-SIDE LOOKUPS (.Siblings/.First*/
        # ANCESTOR/OPENINGPERIOD/…) resolve inside _aggregate_cube and
        # add drills/cuts the grain check below cannot see;
        # query-scoped WITH forms rewrite the cube — all route to
        # base.  .Children routes since r13: its resolution is pure
        # catalog (drill the child level + cut the member), replicated
        # below and in _reaggregate.
        if (qm.parent_of or qm.lastperiods
                or qm.member_lags or qm.with_members or qm.with_sets
                or getattr(qm, "with_sets_ext", [])
                or qm.edge_child_of or qm.siblings_of
                or qm.ancestor_of or qm.edge_sibling_of
                or qm.periods_to_date
                or getattr(qm, "generate_more", [])
                or qm.empty_set or qm.empty_slicer):
            # (TOPPERCENT/TOPSUM/TAIL route since r13 — the shared
            # _shape_axis stage reproduces them over the re-aggregate)
            return None
        if qm.generate_top is not None and self._generate_levels(qm) is None:
            # unresolvable / base-path-400 / approx-ranked GENERATE:
            # stay on the base path so errors and exact-rank semantics
            # are identical to an unrouted query
            return None
        try:
            names = self._measure_names(qm)
        except KeyError:
            return None  # unknown measure: let the base path 400 it
        base_measures, calcs, _ = _split_measures(self.cube, names)
        # APPROX distinct routes through the persisted HLL sketches
        # (mergeable); EXACT count_distinct / avg / median and calc
        # members stay base-scan (non-additive)
        if calcs or any(m.agg not in _REAGG
                        and m.agg != "approx_count_distinct"
                        for m in base_measures):
            return None
        for tp in (qm.top_percent, qm.top_sum):
            # an approximate ranking measure must rank on the base
            # path's estimate, not the merged-sketch one (same rule
            # as _generate_levels); exact re-aggregates (sum/count/
            # min/max) reproduce base cell values bit-identically, so
            # the cumulative window selects the same prefix
            if tp is not None:
                m_alias = _measure_alias(self.cube, tp[1])
                if any(m.alias == m_alias
                       and m.agg == "approx_count_distinct"
                       for m in self.cube.measures):
                    return None
        sketch_cols = {m.alias + _HLL_SUFFIX for m in base_measures
                       if m.agg == "approx_count_distinct"}
        try:
            need = set()
            # columns a rollup may lift (see _lifts): the drilled
            # levels' own and plain cuts' — parents=true ancestors,
            # .Children, GENERATE and grouping-sets pairs must be held
            liftable: set = set()
            ns_names = {s.name for s in self.cube.named_sets}
            for d in qm.drilldown:
                parsed = parse_drilldown(d, ns_names)
                if isinstance(parsed, str):
                    # named-set drilldown shortcut (r13): drill at the
                    # set's level + the memoized member-key cut — both
                    # reproducible from a covering rollup (dense too:
                    # the implicit named-set cut restricts the dense
                    # axis frame in _reaggregate's _densify inputs)
                    ns = self.cube.named_set(parsed)
                    _, _, level = _resolve_level(
                        self.cube, ns.dimension, None, ns.level)
                    for _, a in level.out_cols():
                        need.add(a)
                    continue
                # parents=true (r12): the ancestor chain's columns are
                # part of the need — only a grain covering the WHOLE
                # chain can reproduce the base path's output
                rd = _resolve_drill(self.cube, parsed, qm.parents)
                for lv in rd.group_levels:
                    for _, a in lv.out_cols():
                        need.add(a)
                liftable.update(a for _, a in rd.level.out_cols())
            for ch in qm.children_of:
                # <member>.Children (r13): drill the member's CHILD
                # level + cut at the member's own level — the same
                # pure-catalog resolution the base path runs; its
                # 400s (short path, leaf level) stay on base via the
                # unresolvable -> except -> None fallthrough below
                from ..parser import parse_segments
                segs = parse_segments(ch)
                if len(segs) < 3:
                    return None        # base path 400s it identically
                hier_name = segs[1] if len(segs) == 4 else None
                dim, hier, level = _resolve_level(
                    self.cube, segs[0], hier_name, segs[-2])
                idx = hier.level_index(level.name)
                if idx + 1 >= len(hier.levels):
                    return None        # leaf .Children: base 400
                gl = (list(hier.levels[: idx + 2]) if qm.parents
                      else [hier.levels[idx + 1]])
                for lv in gl:
                    for _, a in lv.out_cols():
                        need.add(a)
                need.add(level.key_alias)
            for c in qm.cut:
                rc = _resolve_cut(self.cube, parse_cut(c, ns_names))
                # named-set slicer (r13): the memoized member keys
                # become an IN-filter on the rollup rows — the same
                # predicate the base path pushes to its scans; in
                # dense mode the ResolvedCut rides to the dense fill
                need.add(rc.level.key_alias)
                if rc.cut.kind != "named_set":
                    liftable.add(rc.level.key_alias)
            if qm.generate_top is not None:
                for lv in self._generate_levels(qm):
                    for _, a in lv.out_cols():
                        need.add(a)
            gs_dims = set()
            for ddl_spec, ddl_subset in getattr(qm, "gs_axes", []) or []:
                # grouping-sets axis (r14): the need is the (parent,
                # child) pair's columns; base-path 400s (leaf level,
                # same-dim drill, off-level subset) return None so the
                # base path raises them identically
                segs = ddl_spec.split(".")
                hier_name = segs[1] if len(segs) == 3 else None
                dim, hier, level = _resolve_level(
                    self.cube, segs[0], hier_name, segs[-1])
                idx = hier.level_index(level.name)
                if idx + 1 >= len(hier.levels) or dim.name in gs_dims:
                    return None
                gs_dims.add(dim.name)
                for lv in (level, hier.levels[idx + 1]):
                    for _, a in lv.out_cols():
                        need.add(a)
                if ddl_subset is not None:
                    rc = _resolve_cut(self.cube,
                                      parse_cut(ddl_subset, ns_names))
                    if (rc.dimension.name != dim.name
                            or rc.level.name != level.name):
                        return None
                    need.add(rc.level.key_alias)
            if gs_dims:
                for d in qm.drilldown:
                    parsed = parse_drilldown(d, ns_names)
                    if isinstance(parsed, DrilldownSpec) \
                            and parsed.dimension in gs_dims:
                        return None   # same-dim drill: base 400
        except Exception:
            return None
        # among all covering rollups, route to the SMALLEST one (fewest
        # materialized rows): at 100 TB the delta between a per-day and
        # a per-year rollup is orders of magnitude of scan.  A rollup
        # covers a coarser level it does not hold through its lifts.
        covering = []
        for r in self.rollups:
            if sketch_cols <= set(r.frame.columns) \
                    and need - liftable <= set(r.key_cols):
                lifts = self._lifts(need - set(r.key_cols), r)
                if lifts is not None:
                    covering.append((r, lifts))
        if not covering:
            return None
        return min(covering,
                   key=lambda c: (c[0].rows, len(c[0].key_cols)))

    def _lifts(self, missing: set, r: Rollup) -> list | None:
        """How ``r`` serves the ``missing`` columns, or None when it
        cannot: each must be a key/caption column of a coarser level of
        a table-backed hierarchy whose deeper level's key ``r`` holds.
        A lift is (deeper key alias, held member rows of the coarser
        levels keyed by it): the rollup rows join it before cuts and
        grouping.  The join is inner and exact — the rollup was built
        through the same FK chain — provided the deeper key determines
        the coarser levels, which the held rows are checked for."""
        by_deep: dict = {}
        for col in missing:
            found = next(
                ((dim, hier, deep, lv)
                 for dim in self.cube.dimensions
                 if dim.tables           # not degenerate / parent-child
                 for hier in dim.hierarchies
                 for i, lv in enumerate(hier.levels)
                 if col in {a for _, a in lv.out_cols()}
                 for deep in hier.levels[i + 1:]
                 if deep.key_alias in r.key_cols), None)
            if found is None:
                return None
            dim, hier, deep, lv = found
            by_deep.setdefault((id(dim), hier.name, deep.name),
                               (dim, hier, deep, set()))[3].add(lv.name)
        lifts = []
        for dim, hier, deep, names in by_deep.values():
            coarse = [lv for lv in hier.levels if lv.name in names]
            held = held_members(
                self.spark, self.sf_dir, self.cube,
                ResolvedDrill(dim, hier, deep, coarse + [deep]),
                visible=False)
            if held.frame is None or \
                    len(held.values(deep.key_alias)) != held.rows:
                return None
            cols = [a for lv in coarse for _, a in lv.out_cols()
                    if a not in r.frame.columns]
            lifts.append((deep.key_alias,
                          held.frame.select(deep.key_alias, *cols)))
        return lifts

    def _reaggregate(self, r: Rollup, qm: QueryModel,
                     lifts: list = ()) -> DataFrame:
        """Answer the query from the rollup with full post-aggregation
        parity: HAVING / sparse / distinct / ORDER (+ key tie-breaks) /
        OFFSET / LIMIT behave exactly as the planner's base path, so a
        routed query is indistinguishable from an unrouted one — with
        ONE declared exception: approx_count_distinct routes through
        the persisted Datasketches sketches, whose estimate is within
        the same declared tolerance of the exact count but not
        bit-identical to the base path's single-pass HLL++ estimate
        (both are approximations by contract; exact distinct never
        routes).  ``lifts`` (from :meth:`_choose`) join the rollup rows
        to held coarser-level members before anything else."""
        requested = list(qm.measures) or [self.cube.default_measure.name]
        base_measures, _, final_aliases = _split_measures(
            self.cube, self._measure_names(qm))
        display = final_aliases[:len(requested)]
        df = r.frame
        for deep_key, held in lifts:
            df = df.join(held, deep_key, "inner")
        pred_cuts, ns_rcs, axis_cuts = [], [], []
        ns_names = {s.name for s in self.cube.named_sets}
        from ..parser import Cut
        from ..planner import (ResolvedDrill, _cut_predicate,
                               _validate_cut_members, named_set_keys)
        for c in qm.cut:
            rc = _resolve_cut(self.cube, parse_cut(c, ns_names))
            if rc.cut.kind == "named_set":
                # named-set slicer over the rollup rows (r13): the
                # memoized member keys as an IN-filter — the same
                # predicate the base path pushes to its scans; the
                # ResolvedCut also rides to the dense fill, which
                # restricts same-dimension axis frames like the base
                ns = self.cube.named_set(rc.cut.named_set)
                keys = named_set_keys(self.spark, self.sf_dir,
                                      self.cube, ns)
                df = df.filter(F.col(rc.level.key_alias).isin(keys))
                ns_rcs.append(rc)
                continue
            # same member-existence 400 as the base path (r13) — a
            # routed query must be indistinguishable, errors included;
            # schema-typed coercion too (a type-impossible value 400s
            # here exactly like the base path's plan-time coercion)
            _validate_cut_members(self.spark, self.sf_dir, self.cube, rc)
            df = df.filter(_cut_predicate(rc, df.schema))
            pred_cuts.append(rc)
        group_cols, key_aliases, drills = [], [], []
        for d in qm.drilldown:
            parsed = parse_drilldown(d, ns_names)
            if isinstance(parsed, str):
                # named-set drilldown shortcut (r13): drill at the
                # set's level, restricted to the memoized member keys;
                # the drill + an implicit named-set cut join the dense
                # fill inputs so the dense axis frame is restricted to
                # the set's members exactly like the base path
                ns = self.cube.named_set(parsed)
                dim, hier, level = _resolve_level(
                    self.cube, ns.dimension, None, ns.level)
                keys = named_set_keys(self.spark, self.sf_dir,
                                      self.cube, ns)
                df = df.filter(F.col(level.key_alias).isin(keys))
                drills.append(ResolvedDrill(dim, hier, level, [level]))
                ns_rcs.append(_resolve_cut(
                    self.cube, Cut(kind="named_set", named_set=parsed)))
                key_aliases.append(level.key_alias)
                for _, a in level.out_cols():
                    group_cols.append(a)
                continue
            rd = _resolve_drill(self.cube, parsed, qm.parents)
            drills.append(rd)
            for lv in rd.group_levels:
                key_aliases.append(lv.key_alias)
                for _, a in lv.out_cols():
                    group_cols.append(a)
        for ch in qm.children_of:
            # <member>.Children (r13): same resolution as the base
            # path — drill the child level (ancestor chain with
            # parents=true), cut the member (_choose already verified
            # resolvability and grain coverage)
            from ..parser import parse_segments
            segs = parse_segments(ch)
            hier_name = segs[1] if len(segs) == 4 else None
            dim, hier, level = _resolve_level(
                self.cube, segs[0], hier_name, segs[-2])
            idx = hier.level_index(level.name)
            gl = (list(hier.levels[: idx + 2]) if qm.parents
                  else [hier.levels[idx + 1]])
            drills.append(ResolvedDrill(dim, hier, hier.levels[idx + 1],
                                        gl))
            for lv in gl:
                key_aliases.append(lv.key_alias)
                for _, a in lv.out_cols():
                    group_cols.append(a)
            rc = _resolve_cut(self.cube, parse_cut(ch, ns_names))
            df = df.filter(_cut_predicate(rc, df.schema))
            # the member slice DEFINES this axis (dense fill restricts
            # the member frame even at the coarser parent level) and
            # doubles as a fact-side predicate — both like the base
            pred_cuts.append(rc)
            axis_cuts.append((len(drills) - 1, rc))
        gs_axes_r: list[tuple] = []   # (parent_lv, child_lv, subset_rc)
        kept_markers: list[str] = []
        for ddl_spec, ddl_subset in getattr(qm, "gs_axes", []) or []:
            # grouping-sets axis over the ROLLUP rows (r14): same
            # Expand construction as the base path — 2^k sets in ONE
            # pass, F.grouping() markers, parent subtotal rows with
            # NULL child columns; sum-of-sums (and every _REAGG
            # aggregator / merged sketch) is exact at every set, so
            # the routed frame is value-identical
            segs = ddl_spec.split(".")
            hier_name = segs[1] if len(segs) == 3 else None
            dim, hier, level = _resolve_level(
                self.cube, segs[0], hier_name, segs[-1])
            child = hier.levels[hier.level_index(level.name) + 1]
            drills.append(ResolvedDrill(dim, hier, child,
                                        [level, child]))
            for lv in (level, child):
                key_aliases.append(lv.key_alias)
                for _, a in lv.out_cols():
                    group_cols.append(a)
            subset_rc = (None if ddl_subset is None else
                         _resolve_cut(self.cube,
                                      parse_cut(ddl_subset, ns_names)))
            gs_axes_r.append((level, child, subset_rc))
        gen_levels = (self._generate_levels(qm)
                      if qm.generate_top is not None else None)
        gen_other_keys: list[str] = []
        if gen_levels is not None:
            # keys drilled so far are the OTHER axis dimensions' —
            # the gen (parent, child) pair appends below
            gen_other_keys = list(key_aliases)
            for lv in gen_levels:
                key_aliases.append(lv.key_alias)
                for _, a in lv.out_cols():
                    group_cols.append(a)
            if not qm.nonempty:
                # dense GENERATE (r14): the dense fill below needs the
                # pair drill so the member frame carries TRUE (parent,
                # child) pairs; the rank then runs over the densified
                # frame (nulls-last), mirroring the base path's order
                segs_g = qm.generate_top[0].split(".")
                hier_g = segs_g[1] if len(segs_g) == 3 else None
                g_dim, g_hier, _ = _resolve_level(
                    self.cube, segs_g[0], hier_g, segs_g[-1])
                drills.append(ResolvedDrill(g_dim, g_hier,
                                            gen_levels[1],
                                            list(gen_levels)))
        aggs = []
        for m in base_measures:
            if m.agg == "approx_count_distinct":
                # merge the persisted partial sketches, then estimate:
                # O(rollup rows) instead of O(fact).  Same declared
                # tolerance as the base path's HLL++ estimate, not the
                # same bits (different sketch families — see the
                # _reaggregate docstring)
                col = F.hll_sketch_estimate(
                    F.hll_union_agg(F.col(m.alias + _HLL_SUFFIX)))
                aggs.append(col.alias(m.alias))
                continue
            col = _REAGG[m.agg](F.col(m.alias))
            if m.agg == "sum" and m.result_cast:
                # re-sum through decimal to stay order-independent
                col = F.sum(F.col(m.alias).cast("decimal(25,6)")).cast(m.result_cast)
            aggs.append(col.alias(m.alias))
        if gs_axes_r:
            from itertools import product as _iproduct
            child_alias_sets = [{a for _, a in c.out_cols()}
                                for _, c, _ in gs_axes_r]
            sets = []
            for mask in _iproduct((0, 1), repeat=len(gs_axes_r)):
                excl: set = set()
                for bit, ca in zip(mask, child_alias_sets):
                    if not bit:
                        excl |= ca
                sets.append([c for c in group_cols if c not in excl])
            gs_markers = [f"__gs_subtotal_{i}__"
                          for i in range(len(gs_axes_r))]
            marker_cols = [F.grouping(c.key_alias).alias(m)
                           for (_, c, _), m in zip(gs_axes_r,
                                                   gs_markers)]
            out = (df.groupingSets(sets, *group_cols)
                     .agg(*aggs, *marker_cols))
            for (_, _, subset_rc), m in zip(gs_axes_r, gs_markers):
                if subset_rc is not None:
                    # DRILLDOWNMEMBER: child rows only under listed
                    # parents; subtotal rows always stay
                    out = out.filter((F.col(m) == 1)
                                     | _cut_predicate(subset_rc))
            if getattr(qm, "gs_keep_markers", False):
                # virtual drill-across sub (r14): the markers ride the
                # routed output so the post-join stages (DDLTOP rank,
                # dense fill) can tell subtotal rows apart — exactly
                # the base path's kept_markers contract
                kept_markers = list(gs_markers)
            elif not qm.nonempty:
                # dense mixed-grain fill over the rollup-built Expand
                # — the same _densify_gs the base path runs
                from ..planner import _densify_gs
                out = _densify_gs(
                    self.spark, self.sf_dir, self.cube, drills,
                    gs_axes_r, gs_markers, out, group_cols,
                    [m.alias for m in base_measures],
                    pred_cuts, ns_rcs, {}, {},
                    axis_cuts=axis_cuts or None,
                    existing_dims=getattr(qm, "existing_dims", None))
            else:
                out = out.drop(*gs_markers)
        elif group_cols:
            out = df.groupBy(*group_cols).agg(*aggs)
        else:
            out = df.agg(*aggs)
        if not qm.nonempty and drills and not gs_axes_r:
            # dense axes (r13, VERDICT r12 #1): Mondrian's DEFAULT
            # (reference api.rb:137 — nonempty is opt-in), so at
            # 100 TB the default-params query must route too.  The
            # dense fill is dim-side member frames left-joined to the
            # NONEMPTY aggregate just computed from the rollup —
            # _densify is the same code the base path runs, so the
            # filled frame is row-identical; only the aggregate side
            # came from the rollup instead of a fact scan.
            # properties/captions/prop-filters/idiom axes are refused
            # by _choose, so their _densify inputs are empty here.
            # Runs BEFORE the GENERATE rank (r14) so a dense GENERATE
            # ranks the DENSIFIED pair frame nulls-last — the base
            # path's exact composition.
            from ..planner import _densify
            out = _densify(
                self.spark, self.sf_dir, self.cube, drills, pred_cuts,
                ns_rcs, {}, {}, out, group_cols,
                [m.alias for m in base_measures],
                axis_cuts=axis_cuts or None,
                existing_dims=getattr(qm, "existing_dims", None))
        if gen_levels is not None:
            # GENERATE per-parent top-N over the ROLLUP rows: the SAME
            # window semantics as the base path — sole axis ranks the
            # cell with row_number; beside other drilled dimensions
            # the rank orders by the MARGINAL (sum of the pair's cells
            # over the other keys) with dense_rank so every pair
            # counts once (r13: was ranking per other-key partition by
            # the cell — a silent wrong answer vs the base path;
            # _generate_levels now refuses non-additive marginals so
            # the base path's 400 stays authoritative)
            _, g_n, g_m, g_asc = qm.generate_top
            ocol = _measure_alias(self.cube, g_m)
            parent, child = gen_levels
            own_keys = [parent.key_alias, child.key_alias]
            marginal = bool(gen_other_keys)
            if marginal:
                out = out.withColumn("__gen_m", F.sum(F.col(ocol)).over(
                    Window.partitionBy(*[F.col(a) for a in own_keys])))
                ocol = "__gen_m"
            direction = (F.asc_nulls_last(ocol) if g_asc
                         else F.desc_nulls_last(ocol))
            w = (Window.partitionBy(F.col(parent.key_alias))
                 .orderBy(direction, F.asc(child.key_alias)))
            rank_fn = F.dense_rank() if marginal else F.row_number()
            out = (out.withColumn("__gen_rn", rank_fn.over(w))
                      .filter(F.col("__gen_rn") <= g_n))
            out = out.drop("__gen_rn", "__gen_m")
        for fs in qm.filter:
            mf = parse_measure_filter(fs)
            alias = _measure_alias(self.cube, mf.measure)
            out = out.filter(F.expr(f"{alias} {mf.op} {mf.value!r}"))
        out = _apply_filter_exprs(self.cube, out, qm)
        for pname in qm.nonempty_measures:
            # 2-arg NONEMPTY: same post-agg isNotNull the base path
            # applies (the named measure re-aggregates from the rollup
            # rows, so null-ness matches the base fact aggregate)
            out = out.filter(F.col(_measure_alias(self.cube, pname))
                             .isNotNull())
        if qm.sparse:
            out = out.na.drop(how="all", subset=display)
        if qm.distinct and group_cols:
            out = out.dropDuplicates(group_cols)
        # the SAME axis-global shaping stage the base path runs (r13
        # factored into planner._shape_axis): ORDER + tie-breaks,
        # TOPPERCENT/TOPSUM windows, OFFSET/LIMIT, TAIL, HIERARCHIZE —
        # routed queries are shaped bit-identically by construction
        from ..planner import _shape_axis
        out = _shape_axis(self.cube, out, qm, group_cols, key_aliases)
        return out.select(*group_cols, *display, *kept_markers)
