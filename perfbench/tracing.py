"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own code: the public entry
points of each engine module are replaced, for the life of the
process, by wrappers that time the call.  No engine file changes.

A span holds name (layer), start, end, parent span and request id; the
spans stay in memory and are written out when the run ends.  A layer's
self time is its spans' durations minus the time their child spans
cover, so the layers plus ``other`` add up to the request wall time.

Spark jobs are counted per span: each span that can run jobs sets its
own job group (restored on exit), and the job ids of that group are
read from Spark's status tracker when the request ends.  A
``DataFrame.collect`` inside the planner, the operators, the member
listing or the rollup router is plan-time work and stays with that
layer; any other collect is query execution (``spark.collect``).
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time

PKG = "mondrian_rest_spark"

#: layer -> entry points (module, attribute); "Class.method" patches
#: the class
LAYERS = {
    "api.parse": [("api", "query_model_from_params")],
    "mdx.compile": [("mdx", "compile_mdx")],
    "rollup.route": [("plans.rollup", "RollupManager.route")],
    "planner.build": [("planner", "aggregate")],
    "members.payload": [("members", "member_payloads"),
                        ("members", "dimension_payload")],
    "result.shape": [("result", "to_aggregation_result"),
                     ("result", "tidy_header"), ("result", "tidy_rows")],
    "formats.render": [("formats", "to_aggregation_json"),
                       ("formats", "to_csv"), ("formats", "to_jsonrecords"),
                       ("formats", "to_xlsx")],
    "operators.build": [
        ("operators.dedup", "exact_duplicate_groups"),
        ("operators.dedup", "neardup_minhash_lsh"),
        ("operators.dedup", "neardup_simhash"),
        ("operators.similarity", "cosine_topk"),
        ("operators.textstats", "quality_score"),
        ("operators.windows", "funnel"),
        ("operators.windows", "sessionized"),
        ("operators.windows", "session_stats")],
    "sources.load": [("sources.registry", "load_table")],
}
#: layers whose spans get their own Spark job group
JOB_LAYERS = {"planner.build", "members.payload", "operators.build",
              "rollup.route", "spark.collect"}
#: a collect inside these layers is plan-time work of that layer
PLAN_LAYERS = {"planner.build", "members.payload", "operators.build",
               "rollup.route"}
GROUP_KEY = "spark.jobGroup.id"


class Span:
    __slots__ = ("rid", "layer", "start", "end", "parent", "group", "jobs")

    def __init__(self, rid, layer, parent, group):
        self.rid, self.layer, self.parent, self.group = (
            rid, layer, parent, group)
        self.start, self.end, self.jobs = time.perf_counter(), None, 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.rid: int | None = None
        self.requests = 0
        self.routed = self.routes = 0
        self.out_bytes = 0
        self.persist_delta = 0
        self.shuffle_bytes = 0
        self._persist_mark = self._shuffle_mark = self._first_span = 0
        df_cls = type(spark.range(1))
        self._patch_method(df_cls, "collect", "spark.collect")
        for layer, points in LAYERS.items():
            for mod, attr in points:
                self._patch(layer, importlib.import_module(f"{PKG}.{mod}"),
                            attr)

    # -- patching -------------------------------------------------------

    def _patch(self, layer, module, attr):
        if "." in attr:
            cls_name, meth = attr.split(".")
            self._patch_method(getattr(module, cls_name), meth, layer)
            return
        fn = getattr(module, attr)
        wrapped = self._wrap(layer, fn)
        # every module that imported the function by name gets the
        # wrapper too (api imports planner.aggregate, for example)
        for name, mod in list(sys.modules.items()):
            if name == PKG or name.startswith(PKG + "."):
                for a, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, a, wrapped)

    def _patch_method(self, cls, meth, layer):
        setattr(cls, meth, self._wrap(layer, getattr(cls, meth)))

    def _wrap(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.rid is None or (
                    layer == "spark.collect" and tracer.stack
                    and tracer.spans[tracer.stack[-1]].layer in PLAN_LAYERS):
                return fn(*args, **kwargs)
            out = None
            idx = tracer._open(layer)
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                tracer._close(idx)
                if layer == "formats.render" and out is not None:
                    tracer.out_bytes += len(out)
                elif layer == "rollup.route" and out is not None:
                    tracer.routes += 1
                    tracer.routed += out[1] != "base"
        return traced

    # -- spans ----------------------------------------------------------

    def _group(self) -> str | None:
        for i in reversed(self.stack):
            if self.spans[i].group:
                return self.spans[i].group
        return None

    def _open(self, layer: str) -> int:
        idx = len(self.spans)
        group = None
        if layer in JOB_LAYERS or layer == "request":
            group = f"perfbench-{idx}"
            self.sc.setLocalProperty(GROUP_KEY, group)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(self.rid, layer, parent, group))
        self.stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self.stack.pop()
        if span.group:
            self.sc.setLocalProperty(GROUP_KEY, self._group())

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _shuffle_written(self) -> int:
        execs = self.sc._jsc.sc().statusStore().executorList(True)
        return sum(execs.apply(i).totalShuffleWrite()
                   for i in range(execs.size()))

    def begin(self, rid: int) -> None:
        self.rid = rid
        self._first_span = len(self.spans)
        self._persist_mark = self._persisted()
        self._shuffle_mark = self._shuffle_written()
        self._open("request")

    def end(self) -> None:
        self._close(self._first_span)
        self.rid = None
        self.requests += 1
        tracker = self.sc.statusTracker()
        for span in self.spans[self._first_span:]:
            if span.group:
                span.jobs = len(tracker.getJobIdsForGroup(span.group))
        self.persist_delta += self._persisted() - self._persist_mark
        self.shuffle_bytes += self._shuffle_written() - self._shuffle_mark

    # -- results --------------------------------------------------------

    def layer_metrics(self, cache_stats: dict | None) -> dict:
        """Per-request means of each layer's self time and job count."""
        n = max(self.requests, 1)
        self_s: dict = {}
        jobs: dict = {}
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            self_s[s.layer] = self_s.get(s.layer, 0.0) + (
                s.end - s.start - child[i])
            jobs[s.layer] = jobs.get(s.layer, 0) + s.jobs

        def ms(layer):
            return 1000 * self_s.get(layer, 0.0) / n

        hits = misses = 0
        if cache_stats is not None:
            hits, misses = cache_stats["hits"], cache_stats["misses"]
        return {
            "api.parse_ms": (ms("api.parse"), "ms"),
            "mdx.compile_ms": (ms("mdx.compile"), "ms"),
            "api.result_cache_hit_ratio": (
                hits / (hits + misses) if hits + misses else 0.0, "ratio"),
            "rollup.route_ms": (ms("rollup.route"), "ms"),
            "rollup.routed_ratio": (
                self.routed / self.routes if self.routes else 0.0, "ratio"),
            "planner.build_ms": (ms("planner.build"), "ms"),
            "planner.plan_jobs": (jobs.get("planner.build", 0) / n, "count"),
            "spark.collect_ms": (ms("spark.collect"), "ms"),
            "spark.exec_jobs": (jobs.get("spark.collect", 0) / n, "count"),
            "spark.shuffle_mb": (self.shuffle_bytes / 1e6 / n, "MB"),
            "spark.persisted_rdds": (self.persist_delta / n, "count"),
            "members.payload_ms": (ms("members.payload"), "ms"),
            "members.jobs": (jobs.get("members.payload", 0) / n, "count"),
            "result.shape_ms": (ms("result.shape"), "ms"),
            "formats.render_ms": (ms("formats.render"), "ms"),
            "formats.out_mb": (self.out_bytes / 1e6 / n, "MB"),
            "operators.build_ms": (ms("operators.build"), "ms"),
            "operators.plan_jobs": (jobs.get("operators.build", 0) / n,
                                    "count"),
            "sources.load_ms": (ms("sources.load"), "ms"),
            "other.self_ms": (ms("request"), "ms"),
            "other.jobs": (jobs.get("request", 0) / n, "count"),
        }

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{"rid": s.rid, "name": s.layer,
                        "start": s.start - t0, "end": s.end - t0,
                        "parent": s.parent, "jobs": s.jobs}
                       for s in self.spans], f)
