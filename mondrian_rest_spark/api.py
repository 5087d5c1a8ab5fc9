"""HTTP surface: Flask routes mirroring the reference REST API
(lib/mondrian_rest/api.rb:21-235).

Route map (reference api.rb line refs):
    GET  /cubes                                   :72-80
    GET  /cubes/<cube>                            :82-91
    GET  /cubes/<cube>/dimensions/<dim>           :168-172
    GET  .../levels/<level>/members               :174-205
    GET  .../hierarchies/<h>/levels/<l>/members   :174-205
    GET  /cubes/<cube>/members?full_name=         :93-113
    GET|POST /cubes/<cube>/aggregate[.csv|.jsonrecords|.xls]  :115-158
    GET  /flush?secret=                           :52-70
    GET  /stats                     (no reference analog: cache counters)

Execution is one shared SparkSession (the reference's connection
singleton, api_helpers.rb:7-16); aggregate results are collected on
the driver (they are grouped rollups — small by construction).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from flask import Flask, Response, jsonify, request

from . import formats, members, plancache, result
from .catalog import Catalog
from .parser import ParseError, parse_segments
from .planner import aggregate
from .query import QueryModel
from .sources.registry import build_session


def _bool(v, default=False) -> bool:
    if v is None:
        return default
    return str(v).lower() in ("1", "true", "yes", "on")


def _int(params, key) -> int | None:
    v = params.get(key)
    if v is None or v == "":
        return None
    try:
        return int(v)
    except ValueError:
        # malformed param -> 400, matching the reference's Grape
        # coercion failure (api.rb declared Integer params)
        raise ParseError(f"{key} must be an integer, got {v!r}") from None


def query_model_from_params(cube: str, params) -> QueryModel:
    """REST params -> QueryModel (reference api.rb:115-158 declared
    params + build_query defaults query_helper.rb:192-203)."""
    getlist = params.getlist if hasattr(params, "getlist") else \
        (lambda k: params.get(k, []))
    return QueryModel(
        cube=cube,
        measures=getlist("measures[]") or getlist("measures"),
        drilldown=getlist("drilldown[]") or getlist("drilldown"),
        cut=getlist("cut[]") or getlist("cut"),
        nonempty=_bool(params.get("nonempty"), False),
        distinct=_bool(params.get("distinct"), False),
        # reference api.rb:138: the sparse default is deployment-
        # configurable (-Dmondrian-rest.sparseDefault); env-var analog
        sparse=_bool(params.get("sparse"),
                     os.environ.get("MONDRIAN_REST_SPARSE_DEFAULT")
                     is not None),
        filter=getlist("filter[]") or getlist("filter"),
        order=params.get("order"),
        order_desc=_bool(params.get("order_desc"), False),
        offset=_int(params, "offset"),
        limit=_int(params, "limit"),
        properties=getlist("properties[]") or getlist("properties"),
        caption=getlist("caption[]") or getlist("caption"),
        parents=_bool(params.get("parents"), False),
        debug=_bool(params.get("debug"), False),
    )


def create_app(cat: Catalog, sf_dir: str, spark=None,
               flush_secret: str | None = None,
               rollup_manager=None) -> Flask:
    """``rollup_manager``: an optional plans.rollup.RollupManager; when
    given, every aggregate-producing route (REST /aggregate AND posted
    /mdx — compile_mdx yields the same QueryModel) consults it and is
    served from the smallest covering rollup, falling back to base
    facts (reference analog: Mondrian AggName routing is transparent
    to the REST layer).  debug=true surfaces the chosen source."""
    app = Flask("mondrian_rest_spark")
    state = {"spark": spark}

    # Driver-side aggregate-result cache — the analog of Mondrian's
    # segment/cell cache (reference api.rb:52-70 exists to flush it).
    # Aggregate results are small by construction (grouped rollups),
    # so an LRU of collected rows keyed on the canonical QueryModel
    # turns a repeated dashboard query into a dict hit instead of a
    # Spark job.  Invalidated by /flush alongside Spark's table cache.
    # Bounded by total CELLS, not entry count: one 10M-cell dense
    # result would otherwise pin as much driver memory as 10M tiny
    # ones.  Guarded by a lock — Flask commonly runs threaded, and an
    # unlocked OrderedDict corrupts under concurrent move_to_end.
    import threading
    from collections import OrderedDict
    RESULT_CACHE_MAX_CELLS = 2_000_000
    result_cache: OrderedDict[str, list] = OrderedDict()
    cache_stats = {"hits": 0, "misses": 0, "cells": 0}
    cache_lock = threading.Lock()
    app.extensions["mrs_result_cache"] = (result_cache, cache_stats)

    def _cells(rows: list) -> int:
        return len(rows) * len(rows[0]) if rows else 1

    # bounded log of served QueryModels — the rollup advisor's input
    # (grain frequency x base-scan cost; plans/advisor.py).  Appended
    # on every aggregate-producing request, cache hit or miss: the
    # advisor weighs by DEMAND, not by Spark-job count.
    from collections import deque
    served_log: deque = deque(maxlen=10_000)
    app.extensions["mrs_served_log"] = served_log

    def run_query(qm, log=True):
        """(DataFrame, source) for a QueryModel: through the rollup
        router when one is registered, else the planner directly."""
        if log:
            served_log.append(qm)
        if rollup_manager is not None:
            return rollup_manager.route(qm)
        return aggregate(get_spark(), sf_dir, cat, qm), "base"

    def cached_rows(qm):
        # debug only changes the response envelope (mdx echo / source),
        # not the rows — keying on it would duplicate cache entries
        key = repr(sorted(((k, v) for k, v in qm.__dict__.items()
                           if k != "debug"), key=lambda kv: kv[0]))
        served_log.append(qm)   # advisor demand signal, hit or miss
        with cache_lock:
            if key in result_cache:
                result_cache.move_to_end(key)
                cache_stats["hits"] += 1
                return result_cache[key]
            cache_stats["misses"] += 1
        # run the Spark job outside the lock: concurrent distinct
        # queries must not serialize on the cache
        df, source = run_query(qm, log=False)
        rows = df.collect()
        n = _cells(rows)
        if n > RESULT_CACHE_MAX_CELLS:
            return rows, source  # oversized result: serve it, never pin it
        with cache_lock:
            if key not in result_cache:
                result_cache[key] = (rows, source)
                cache_stats["cells"] += n
            while cache_stats["cells"] > RESULT_CACHE_MAX_CELLS and result_cache:
                _, (old, _src) = result_cache.popitem(last=False)
                cache_stats["cells"] -= _cells(old)
        return rows, source

    if rollup_manager is not None:
        # the app's own manager is the cube's evaluation authority
        # (r14, VERDICT r13 #2): degenerate cut-member validation and
        # computed named sets consult its covering rollups instead of
        # scanning the fact at plan time.  Safe here by construction —
        # appends flow through THIS manager, so its rollups are never
        # staler than the base parquet.
        rollup_manager.register_as_authority()
        # appended facts change answers: drop cached driver-side rows
        # alongside the planner's member-key caches
        def _invalidate():
            with cache_lock:
                result_cache.clear()
                cache_stats["cells"] = 0
        rollup_manager.invalidation_hooks.append(_invalidate)

    def get_spark():
        if state["spark"] is None:
            state["spark"] = build_session(master="local[*]")
        return state["spark"]

    @app.errorhandler(ParseError)
    def bad_request(e):  # reference 400 paths (api.rb error!)
        return jsonify({"error": str(e)}), 400

    @app.errorhandler(KeyError)
    def not_found(e):  # reference 404 helper (api_helpers.rb:36-40)
        return jsonify({"error": str(e)}), 404

    @app.get("/cubes")
    def cubes():
        # virtual cubes are first-class (reference api_spec.rb:23-35
        # lists 'Warehouse and Sales' alongside the base cubes)
        return jsonify({"cubes": [members.cube_metadata(cat, n)
                                  for n in members.cube_names(cat)]})

    @app.get("/cubes/<cube>")
    def cube(cube):
        return jsonify(members.cube_metadata(cat, cube))

    @app.get("/cubes/<cube>/dimensions/<dim>")
    def dimension(cube, dim):
        # reference api.rb:166-171: dimension.to_h(get_members: true) —
        # every level carries its member list
        return jsonify(members.dimension_payload(
            get_spark(), sf_dir, cat, cube, dim, get_members=True))

    def _member_params(params):
        """Shared member-route params (reference api.rb:180-182, :198-200,
        :212-214): member_properties[], caption, children."""
        getlist = params.getlist if hasattr(params, "getlist") else \
            (lambda k: params.get(k, []))
        return {
            "member_properties": (getlist("member_properties[]") or
                                  getlist("member_properties")),
            "caption": params.get("caption") or None,
            "children": _bool(params.get("children"), False),
        }

    def _members_payload(cube, dim, level, hierarchy=None):
        # reference get_members (api_helpers.rb:65-90): the level's
        # Level#to_h(get_members: true) envelope
        env = members.level_envelope(cat, cube, dim, level, hierarchy)
        # num_children is part of the reference member hash
        # (CHILDREN_CARDINALITY) on listings too, not just lookups
        env["members"] = members.member_payloads(
            get_spark(), sf_dir, cat, cube, dim, level, hierarchy,
            with_num_children=True, **_member_params(request.args))
        return jsonify(env)

    @app.get("/cubes/<cube>/dimensions/<dim>/levels/<level>/members")
    def level_members(cube, dim, level):
        return _members_payload(cube, dim, level)

    @app.get("/cubes/<cube>/dimensions/<dim>/hierarchies/<hier>/levels/<level>/members")
    def hier_level_members(cube, dim, hier, level):
        return _members_payload(cube, dim, level, hier)

    @app.get("/cubes/<cube>/dimensions/<dim>/levels/<level>/members/<key>")
    def member_by_key(cube, dim, level, key):
        # reference api.rb:207-230 — lookup by MEMBER_KEY (the reference
        # does a linear scan; this is an indexed filter on the dim frame);
        # response is Member#to_h + ancestors (mondrian_ext.rb:168-188)
        hashes = members.member_payloads(
            get_spark(), sf_dir, cat, cube, dim, level,
            key=key.lstrip("&"), with_num_children=True,
            **_member_params(request.args))
        if not hashes:
            raise KeyError(f"member {key!r} not found in {dim}.{level}")
        return jsonify(hashes[0])

    @app.get("/cubes/<cube>/members")
    def member_by_full_name(cube, full_name: str | None = None):
        full_name = request.args.get("full_name")
        if not full_name:
            raise ParseError("full_name required")
        segs = parse_segments(full_name)
        if len(segs) < 3:
            raise ParseError(f"full_name needs [Dim].[Level].[Key]: {full_name!r}")
        hashes = members.member_payloads(
            get_spark(), sf_dir, cat, cube, segs[0], segs[-2],
            key=segs[-1].lstrip("&"), with_num_children=True,
            **_member_params(request.args))
        if not hashes:
            raise KeyError(f"member {full_name!r} not found")
        out = hashes[0]
        # full-name lookups additionally carry dimension_info
        # (mondrian_ext.rb:198-210; golden api_spec.rb:104-108)
        out["dimension"] = members.dimension_info(cat, cube, segs[0], segs[-2])
        return jsonify(out)

    # Accept-header negotiation (reference Grape content_type
    # registrations, api.rb:22-32; webshop_spec.rb drives formats via
    # `header 'Accept', 'application/x-jsonrecords'`).  An explicit
    # URL extension wins; the header applies when none is given.
    _ACCEPT_FMTS = {
        "application/x-jsonrecords": "jsonrecords",
        "text/csv": "csv",
        "application/vnd.ms-excel": "xls",
        "application/vnd.openxmlformats-officedocument."
        "spreadsheetml.sheet": "xlsx",
    }

    def _negotiate(fmt: str | None) -> str:
        # fmt is None only on the extensionless route: an explicit URL
        # extension (including .json) always wins over the Accept header
        if fmt is not None:
            return fmt
        accept = request.headers.get("Accept", "")
        for mime, f in _ACCEPT_FMTS.items():
            if mime in accept:
                return f
        return "json"

    @app.route("/cubes/<cube>/aggregate", methods=["GET", "POST"])
    @app.route("/cubes/<cube>/aggregate.<fmt>", methods=["GET", "POST"])
    def agg(cube, fmt=None):
        fmt = _negotiate(fmt)
        params = request.values
        qm = query_model_from_params(cube, params)
        if cat.virtual_cube(cube) is None:
            cat.cube(cube)   # unknown cube stays a 404
        if _bool(params.get("explain"), False):
            # plan transparency: return the PHYSICAL plan (and routing
            # source) WITHOUT executing — the ops handle for "why is
            # this query slow / did it hit the rollup / did my cut
            # push down" (reference has no analog; Mondrian hides the
            # generated SQL behind log4j)
            try:
                df, source = run_query(qm, log=False)
            except KeyError as e:
                raise ParseError(str(e)) from e
            spark_ = get_spark()
            mode = spark_._jvm.org.apache.spark.sql.execution.ExplainMode
            plan = df._jdf.queryExecution().explainString(
                mode.fromString("formatted"))
            return jsonify({"cube": qm.cube, "source": source,
                            "plan": plan.splitlines()})
        try:
            rows, source = cached_rows(qm)
        except KeyError as e:
            # unknown measure/dimension/level inside a valid cube is a
            # parameter error (reference 400, query_helper.rb:206-210),
            # not a missing resource
            raise ParseError(str(e)) from e
        # reference generated-MDX echo (api.rb:39, api_spec.rb:183-203)
        from .mdx import emit_mdx
        return _render(qm, fmt, rows,
                       mdx_echo=emit_mdx(cat, qm) if qm.debug else None,
                       as_array=params.get("format") == "array",
                       source=source if qm.debug and rollup_manager
                       is not None else None)

    def _render(qm, fmt, rows, mdx_echo=None, as_array=False, source=None):
        if fmt == "json":
            res = result.to_aggregation_result(cat, qm, rows, mdx=mdx_echo,
                                               source=source)
            return Response(formats.to_aggregation_json(res),
                            mimetype="application/json")
        header = result.tidy_header(cat, qm)
        tidy = result.tidy_rows(rows, header)
        if fmt == "csv":
            return Response(formats.to_csv(header, tidy), mimetype="text/csv")
        if fmt == "jsonrecords":
            return Response(formats.to_jsonrecords(header, tidy, as_array),
                            mimetype="application/x-jsonrecords")
        if fmt == "xls":
            # binary BIFF8 in an OLE2 container — the same bytes-level
            # format the reference's spreadsheet gem emits
            # (formatters/excel.rb:5-31)
            return Response(formats.to_xls_biff(header, tidy),
                            mimetype="application/vnd.ms-excel")
        if fmt == "xlsx":
            return Response(formats.to_xlsx(header, tidy),
                            mimetype=formats.XLSX_MIME)
        raise ParseError(f"unknown format {fmt!r}")

    @app.route("/mdx", methods=["POST"])
    @app.route("/mdx.<fmt>", methods=["POST"])
    def mdx_route(fmt=None):
        fmt = _negotiate(fmt)
        # reference api.rb:21-50 raw-MDX passthrough, scoped to the
        # generated-MDX subset (SURVEY §2.10 Q6); same formatter set and
        # params (parents/debug/properties/caption, api.rb:37-42) as the
        # aggregate resource
        from .mdx import compile_mdx
        raw = request.get_data(as_text=True)
        qm = compile_mdx(raw)
        p = request.args
        getlist = p.getlist
        qm.parents = _bool(p.get("parents"), False)
        qm.debug = _bool(p.get("debug"), False)
        qm.properties = getlist("properties[]") or getlist("properties")
        qm.caption = getlist("caption[]") or getlist("caption")
        # unknown cube stays a 404 (resource); any unknown NAME inside
        # a valid cube is a parameter error -> 400, mirroring the
        # aggregate route (reference api_helpers.rb:42-54 maps Mondrian
        # parse/validation errors on posted MDX to 400)
        if cat.virtual_cube(qm.cube) is None:
            cat.cube(qm.cube)
        # posted MDX consults the rollup router too: compile_mdx yields
        # the same QueryModel the REST layer builds, so a covering
        # rollup serves hand-written MDX identically (VERDICT r6 item 8)
        try:
            df, source = run_query(qm)
        except KeyError as e:
            raise ParseError(str(e)) from e
        # reference echoes the SUBMITTED query for debug on this route
        return _render(qm, fmt, df.collect(),
                       mdx_echo=raw if qm.debug else None,
                       as_array=p.get("format") == "array",
                       source=source if qm.debug and rollup_manager
                       is not None else None)

    # ---- corpus pipeline routes (VERDICT r7 #9) -------------------------
    # The d/s/t operators exposed through the same HTTP surface as the
    # OLAP API, so the pipeline composes with the cube endpoints (no
    # reference analog — mondrian-rest has no corpus path).  Responses
    # are LIMIT-bounded frames: these routes are for interactive
    # inspection and small corpora; at 100 TB the same operators run as
    # jobs writing parquet sinks, never collected through HTTP.
    from .sources.registry import load_table

    CORPUS_MAX_LIMIT = 10_000

    def _corpus_limit(params) -> int:
        n = _int(params, "limit")
        if n is None:
            n = 1_000
        if not 0 < n <= CORPUS_MAX_LIMIT:
            raise ParseError(
                f"limit must be in 1..{CORPUS_MAX_LIMIT}, got {n}")
        return n

    def _float(params, key, default):
        v = params.get(key)
        if v is None or v == "":
            return default
        try:
            return float(v)
        except ValueError:
            raise ParseError(f"{key} must be numeric, got {v!r}") from None

    def _frame_json(df, limit: int):
        rows = df.limit(limit + 1).collect()
        truncated = len(rows) > limit
        rows = rows[:limit]
        return jsonify({
            "columns": list(df.columns),
            "data": [[(v.isoformat() if hasattr(v, "isoformat") else v)
                      for v in row] for row in rows],
            "returned": len(rows),
            "truncated": truncated,
        })

    @app.get("/corpus/stats")
    def corpus_stats():
        # per-document text analysis over the documents table:
        # metric = tokens | quality | language | fingerprint
        from .operators import textstats
        fns = {
            "tokens": textstats.token_stats,
            "quality": textstats.quality_score,
            "language": textstats.language_id,
            "fingerprint": textstats.fingerprint,
            # r14: rare-bigram novelty (LM-perplexity stand-in)
            "novelty": textstats.bigram_novelty,
            # r14: Gopher rule battery with per-rule audit flags
            "gopher": textstats.gopher_rules,
            # r14: CCNet-style scoring — self-trained unigram LM
            "perplexity": textstats.self_perplexity,
            # r14: per-language tokenizer fertility report
            "fertility": textstats.fertility_by_language,
        }
        metric = request.args.get("metric", "quality")
        docs = load_table(get_spark(), sf_dir, "documents")
        if metric == "lm_score":
            # frozen-LM scoring: LM trained on the ?lm_lang slice
            lm_lang = request.args.get("lm_lang", "en")
            lm = textstats.unigram_lm(
                docs.filter(F.col("lang") == lm_lang))
            return _frame_json(textstats.score_against_lm(docs, lm),
                               _corpus_limit(request.args))
        if metric not in fns:
            raise ParseError(
                f"unknown metric {metric!r} "
                f"(have {sorted(fns) + ['lm_score']})")
        return _frame_json(fns[metric](docs), _corpus_limit(request.args))

    @app.get("/corpus/provenance")
    def corpus_provenance():
        # duplicate-provenance matrix between sources (d16): exact
        # content hashes or near-dup pairs per source pair
        from .operators import dedup
        docs = load_table(get_spark(), sf_dir, "documents")
        mode = request.args.get("mode", "neardup")
        if mode == "exact":
            df = dedup.cross_source_matrix(docs)
        elif mode == "neardup":
            df = dedup.cross_source_neardup_matrix(
                docs, threshold=_float(request.args, "threshold", 0.5))
        else:
            raise ParseError(f"unknown provenance mode {mode!r} "
                             "(have ['exact', 'neardup'])")
        try:
            return _frame_json(df, _corpus_limit(request.args))
        finally:
            dedup.unpersist_request_frames(df)

    @app.get("/corpus/contamination")
    def corpus_contamination():
        # which benchmark leaked (d17): span-level contamination
        # attributed per eval source; eval_sources is a comma list
        from .operators import dedup
        raw = request.args.get("eval_sources")
        if not raw:
            raise ParseError("eval_sources required (comma-separated)")
        sources = [s for s in raw.split(",") if s]
        docs = load_table(get_spark(), sf_dir, "documents")
        n = _int(request.args, "n")
        df = dedup.contamination_by_benchmark(
            docs.filter(~F.col("source").isin(sources)),
            docs.filter(F.col("source").isin(sources)),
            n=5 if n is None else n)
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/events/funnel")
    def events_funnel():
        # ordered-sequence funnel over the events table; timing=true
        # returns the step-latency report (same first-touch walk)
        from .operators import windows
        steps = tuple((request.args.get("steps")
                       or "view,click,purchase").split(","))
        within = request.args.get("within", "7 days")
        ev = load_table(get_spark(), sf_dir, "events")
        try:
            if request.args.get("timing", "").lower() == "true":
                df = windows.funnel_timing(ev, steps, within=within)
            else:
                df = windows.funnel(
                    ev, steps, within=within,
                    mode=request.args.get("mode", "first_touch"))
        except ValueError as e:
            raise ParseError(str(e))
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/events/transitions")
    def events_transitions():
        # first-order event-type transition matrix (w08)
        from .operators import windows
        ev = load_table(get_spark(), sf_dir, "events")
        return _frame_json(windows.event_transitions(ev),
                           _corpus_limit(request.args))

    @app.get("/events/anomalies")
    def events_anomalies():
        # daily volume anomaly flags (w12)
        from .operators import windows
        wd = _int(request.args, "window_days")
        z = _float(request.args, "z", 3.0)
        if z <= 0:
            raise ParseError(f"z must be > 0, got {z}")
        ev = load_table(get_spark(), sf_dir, "events")
        try:
            df = windows.daily_count_anomalies(
                ev, window_days=7 if wd is None else wd, z_threshold=z)
        except ValueError as e:
            raise ParseError(str(e))
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/events/sessions")
    def events_sessions():
        # per-session frame (w03) or the distribution summary (w11);
        # gap reuses the funnel interval whitelist — session_window
        # would otherwise surface a smuggled string as a plan-time 500
        import re as _re

        from .operators import windows
        gap = request.args.get("gap", "30 minutes")
        if not _re.fullmatch(
                r"\s*\d+\s+(?:second|minute|hour|day|week)s?\s*",
                gap, _re.IGNORECASE):
            raise ParseError(f"gap must be '<n> <unit>', got {gap!r}")
        ev = load_table(get_spark(), sf_dir, "events")
        if request.args.get("summary", "").lower() == "true":
            df = windows.session_stats(ev, gap)
        else:
            df = windows.sessionized(ev, gap)
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/corpus/dedup")
    def corpus_dedup():
        # duplicate discovery: method = exact | minhash | simhash;
        # exact returns duplicate GROUPS, the near-dup methods return
        # candidate-verified pairs
        from .operators import dedup
        method = request.args.get("method", "exact")
        docs = load_table(get_spark(), sf_dir, "documents")
        if method == "exact":
            df = dedup.exact_duplicate_groups(docs)
        elif method == "minhash":
            df = dedup.neardup_minhash_lsh(
                docs, threshold=_float(request.args, "threshold", 0.5))
        elif method == "simhash":
            mh = _int(request.args, "max_hamming")
            df = dedup.neardup_simhash(
                docs, max_hamming=3 if mh is None else mh)
        elif method == "jaccard":
            # exact PPJoin pairs; max_candidates_per_prefix (r10)
            # bounds adversarial template skew — the guard's
            # PrefixSkewError surfaces as a 400 naming the offending
            # shingles instead of an unbounded job
            cap = _int(request.args, "max_candidates_per_prefix")
            spill = request.args.get("spill")
            if spill not in (None, "", "minhash"):
                raise ParseError(
                    f"unknown spill mode {spill!r} (have ['minhash'])")
            if spill == "minhash":
                # degraded mode (r11): hot-bucket docs route through
                # the MinHash-LSH pre-filter (approximate=true rows)
                # instead of failing the job; everything else stays
                # the bit-identical exact PPJoin path
                # ?auto=true sizes the LSH (num_hashes, bands) for
                # ?target_recall at the threshold (r12, VERDICT #7) —
                # recall on the HOT pairs only; non-hot pairs stay
                # exact regardless
                df = dedup.neardup_jaccard_spill_minhash(
                    docs,
                    threshold=_float(request.args, "threshold", 0.5),
                    max_candidates_per_prefix=(
                        100_000 if cap is None else cap),
                    auto=request.args.get("auto", "").lower()
                    in ("1", "true", "yes"),
                    target_recall=_float(request.args,
                                         "target_recall", 0.95))
            else:
                try:
                    df = dedup.neardup_jaccard_prefix(
                        docs,
                        threshold=_float(request.args, "threshold", 0.5),
                        max_candidates_per_prefix=cap)
                except dedup.PrefixSkewError as e:
                    # the guard already unpersisted its frames on raise
                    return jsonify({"error": str(e),
                                    "hot_buckets": [
                                        {"shingle": s, "bucket_size": c}
                                        for s, c in e.buckets]}), 400
        elif method == "semantic":
            # SemDeDup pairs over the embeddings table (r14); the
            # CellSkewError quadratic guard surfaces as a 400 naming
            # the hot cells, like the jaccard path's skew guard
            from .operators import similarity
            cells = _int(request.args, "n_cells")
            cap = _int(request.args, "max_cell_rows")
            try:
                df = similarity.semantic_dedup_pairs(
                    load_table(get_spark(), sf_dir, "embeddings"),
                    threshold=_float(request.args, "threshold", 0.8),
                    n_cells=16 if cells is None else cells,
                    max_cell_rows=cap)
            except similarity.CellSkewError as e:
                return jsonify({"error": str(e),
                                "hot_cells": [
                                    {"cell_id": c, "rows": r}
                                    for c, r in e.cells]}), 400
        elif method == "spans":
            # duplicated n-gram spans (r14, ExactSubstr granularity)
            ng = _int(request.args, "n")
            md = _int(request.args, "min_docs")
            mo = _int(request.args, "min_occurrences")
            df = dedup.duplicate_spans(
                docs, n=5 if ng is None else ng,
                min_docs=2 if md is None else md,
                min_occurrences=mo)
        else:
            raise ParseError(
                f"unknown dedup method {method!r} "
                "(have ['exact', 'minhash', 'simhash', 'jaccard', "
                "'semantic', 'spans'])")
        try:
            return _frame_json(df, _corpus_limit(request.args))
        finally:
            # free request-scoped cached blocks (ADVICE r10): on a
            # long-running server each request otherwise accumulates
            # persisted self-join frames that are only freed on exit
            dedup.unpersist_request_frames(df)

    @app.get("/corpus/similar")
    def corpus_similar():
        # top-k cosine neighbors of one embedding: method = brute | lsh
        from .operators import similarity
        vec_id = _int(request.args, "vec_id")
        if vec_id is None:
            raise ParseError("vec_id required")
        k = _int(request.args, "k")
        k = 10 if k is None else k
        if not 0 < k <= 1_000:
            raise ParseError(f"k must be in 1..1000, got {k}")
        method = request.args.get("method", "brute")
        emb = load_table(get_spark(), sf_dir, "embeddings")
        if method == "brute":
            df = similarity.cosine_topk(emb, query_vec_id=vec_id, k=k)
        elif method == "lsh":
            df = similarity.ann_topk_lsh(emb, query_vec_id=vec_id, k=k)
        elif method == "mmr":
            # diversity rerank: ?lam= relevance/redundancy trade-off,
            # ?fetch= candidate pool (defaults 0.7 / 5k)
            try:
                lam = float(request.args.get("lam", 0.7))
            except ValueError:
                raise ParseError("lam must be numeric")
            fetch = _int(request.args, "fetch")
            fetch = max(5 * k, 50) if fetch is None else fetch
            if not k <= fetch <= 10_000:
                raise ParseError(
                    f"fetch must be in {k}..10000, got {fetch}")
            try:
                df = similarity.mmr_rerank(emb, query_vec_id=vec_id, k=k,
                                           fetch=fetch, lam=lam)
            except ValueError as e:
                raise ParseError(str(e)) from e
        else:
            raise ParseError(
                f"unknown similarity method {method!r} "
                "(have ['brute', 'lsh', 'mmr'])")
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/corpus/mixture")
    def corpus_mixture():
        # training-mix planning: temperature-scaled stratum weights
        # (x10) or the declared-target keep fractions (x04 machinery)
        from .operators.sampling import mixture_weights_temperature
        by = request.args.get("by", "lang")
        docs = load_table(get_spark(), sf_dir, "documents")
        if by not in docs.columns:
            raise ParseError(f"unknown stratum column {by!r}")
        alpha = _float(request.args, "alpha", 0.5)
        if not 0.0 < alpha <= 1.0:
            raise ParseError(f"alpha must be in (0, 1], got {alpha}")
        df = mixture_weights_temperature(docs, alpha=alpha, group_col=by)
        return _frame_json(df, _corpus_limit(request.args))

    @app.get("/corpus/decontaminate")
    def corpus_decontaminate():
        # benchmark decontamination: drop training docs near-dupping
        # the held-out source (operators/dedup.decontaminate); returns
        # the SURVIVING training rows, LIMIT-bounded
        from .operators import dedup
        eval_source = request.args.get("eval_source")
        if not eval_source:
            raise ParseError("eval_source required")
        docs = load_table(get_spark(), sf_dir, "documents")
        train = docs.filter(F.col("source") != eval_source)
        held = docs.filter(F.col("source") == eval_source)
        mode = request.args.get("mode", "neardup")
        if mode == "neardup":
            out = dedup.decontaminate(
                train, held,
                threshold=_float(request.args, "threshold", 0.5))
            out = out.select("doc_id", "source")
        elif mode == "spans":
            # r14: span-level policy (x09) — heavy docs dropped,
            # lighter hits returned with the eval spans trimmed and a
            # removed_tokens audit column
            from .operators.pipeline import decontaminate_corpus
            ng = _int(request.args, "n")
            out = decontaminate_corpus(
                train, held, n=5 if ng is None else ng,
                max_fraction=_float(request.args, "max_fraction", 0.2))
        else:
            raise ParseError(
                f"unknown decontaminate mode {mode!r} "
                "(have ['neardup', 'spans'])")
        try:
            return _frame_json(out, _corpus_limit(request.args))
        finally:
            dedup.unpersist_request_frames(out)

    @app.get("/advisor/rollups")
    def advisor_rollups():
        # close the AggName loop operationally: recommend rollup
        # grains from the queries THIS app actually served
        # (plans/advisor.py; VERDICT r7 #6) — per base cube, most
        # demanded first
        from .plans.advisor import recommend_rollups, resolve_virtual_entries
        max_r = _int(request.args, "max")
        max_r = 3 if max_r is None else max_r
        if not 0 < max_r <= 20:
            raise ParseError(f"max must be in 1..20, got {max_r}")
        log = list(served_log)
        # measured per-level cardinalities from rollup builds (r9):
        # the manager's stats replace the advisor's level-count proxy
        # for ITS cube; other cubes keep the proxy
        stats, stats_cube = None, None
        if rollup_manager is not None and getattr(
                rollup_manager, "level_stats", None):
            stats = dict(rollup_manager.level_stats)
            stats_cube = rollup_manager.cube.name
        out = []
        for cube_obj in cat.cubes:
            # virtual-cube entries count as demand on each base cube
            # they drill across (r13, VERDICT r12 #3) — the router
            # serves their sub-aggregates from base-cube rollups
            cube_log = ([q for q in log if q.cube == cube_obj.name]
                        + resolve_virtual_entries(cat, cube_obj, log))
            recs = recommend_rollups(
                cube_obj, cube_log,
                max_rollups=max_r,
                level_cardinality=(stats if cube_obj.name == stats_cube
                                   else None))
            out += [{
                "cube": cube_obj.name,
                "grain": list(r.grain),
                "covered_queries": r.covered_queries,
                "covered_weight": r.covered_weight,
                "est_rows": r.est_rows,
                "score": r.score,
            } for r in recs]
        out.sort(key=lambda r: -r["covered_weight"])
        # bucketing dry-run (r12): the layout advice alongside the
        # grain advice — what POST /advisor/materialize would apply
        # when the manager has a bucket_db
        from .plans.advisor import recommend_bucketing
        buckets = []
        for cube_obj in cat.cubes:
            rec = recommend_bucketing(
                cube_obj, [q for q in log if q.cube == cube_obj.name])
            if rec is not None:
                buckets.append({
                    "cube": cube_obj.name, "bridge": rec.bridge,
                    "fact_table": rec.fact_table,
                    "fact_key": rec.fact_key,
                    "bridge_table": rec.bridge_table,
                    "bridge_key": rec.bridge_key,
                    "join_weight": rec.join_weight})
        buckets.sort(key=lambda b: -b["join_weight"])
        return jsonify({"recommendations": out,
                        "bucketing": buckets,
                        "log_size": len(log)})

    @app.post("/advisor/materialize")
    def advisor_materialize():
        # close the advisor loop (r10, VERDICT r9 #6): build the top-N
        # recommended rollups through the existing register() path and
        # report estimated vs REALIZED routing hit-rate by replaying
        # the served-query log through the router's _choose (a
        # plan-time decision; it reads at most the held members of a
        # lifted level, never the facts).  Secret-gated like /flush
        # — materialization writes cluster state.
        if flush_secret is None or request.args.get("secret") != flush_secret:
            return jsonify({"error": "forbidden"}), 403
        if rollup_manager is None:
            raise ParseError(
                "no rollup manager attached to this app; start the API "
                "with rollup_manager= to materialize advised rollups")
        from .plans.advisor import recommend_rollups, resolve_virtual_entries
        max_r = _int(request.args, "max")
        max_r = 3 if max_r is None else max_r
        if not 0 < max_r <= 10:
            raise ParseError(f"max must be in 1..10, got {max_r}")
        cube_obj = rollup_manager.cube
        log = ([q for q in served_log if q.cube == cube_obj.name]
               + resolve_virtual_entries(cat, cube_obj,
                                         list(served_log)))
        stats = (dict(rollup_manager.level_stats)
                 if rollup_manager.level_stats else None)
        recs = recommend_rollups(cube_obj, log, max_rollups=max_r,
                                 level_cardinality=stats)
        built = []
        already = []
        # same-grain rollups already registered must not be rebuilt
        # (ADVICE r10: repeated POSTs duplicated cluster work/storage
        # under fresh advised_N names) — grain identity is order-
        # insensitive (the rollup serves any drilldown subset of it)
        existing_grains = {frozenset(r.grain)
                           for r in rollup_manager.rollups}
        for rec in recs:
            if frozenset(rec.grain) in existing_grains:
                already.append({"grain": list(rec.grain),
                                "est_covered_weight": rec.covered_weight})
                continue
            name = f"advised_{len(rollup_manager.rollups)}_" + "_".join(
                s.split(".")[-1].lower().replace(" ", "")
                for s in rec.grain)
            # layout advice (r11, VERDICT r10 #7): when the manager
            # has a materialize dir, persist the rollup partitioned on
            # the most-cut grain key so logged cuts prune partitions
            kwargs = {}
            if rec.partition_col and rollup_manager.materialize_dir:
                import os as _os
                kwargs = dict(
                    persist_path=_os.path.join(
                        rollup_manager.materialize_dir, name),
                    partition_col=rec.partition_col)
            r = rollup_manager.register(name, tuple(rec.grain),
                                        **kwargs)
            existing_grains.add(frozenset(r.grain))
            built.append({"name": r.name, "grain": list(r.grain),
                          "rows": r.rows,
                          "partition_col": r.partition_col,
                          "partition_spec": rec.partition_spec,
                          "persist_path": r.persist_path,
                          "est_covered_weight": rec.covered_weight,
                          "est_rows": rec.est_rows})
        # bucketed base-fact layout (r12, VERDICT r11 #4): rollups fix
        # aggregation cost; the fact ⋈ bridge join cost needs a LAYOUT.
        # When the manager has a bucket_db, bucket the fact + the
        # most-joined bridge table on the served log's dominant join
        # key and flip MRS_BUCKETED_DB so every engine load (registry
        # load_table) serves the co-located copy — rollup-unroutable
        # queries keep their values and lose the join shuffle.
        bucketing_info = None
        if rollup_manager.bucket_db:
            from .plans.advisor import recommend_bucketing
            from .sources import bucketing as _bk
            rec = recommend_bucketing(cube_obj, log)
            if rec is not None:
                db = rollup_manager.bucket_db
                specs = {rec.fact_table: rec.fact_key,
                         rec.bridge_table: rec.bridge_key}
                spark_ = get_spark()
                have = (spark_.catalog.databaseExists(db)
                        and all(spark_.catalog.tableExists(f"{db}.{t}")
                                for t in specs))
                if not have:
                    nb = _int(request.args, "n_buckets")
                    if nb is None:
                        # size from the data: largest table bytes /
                        # ~256 MB per bucket, power of two, >= 8
                        nb = _bk.recommended_n_buckets(sf_dir, specs)
                    if not 0 < nb <= 4096:
                        raise ParseError(
                            f"n_buckets must be in 1..4096, got {nb}")
                    _bk.materialize_bucketed(spark_, sf_dir, database=db,
                                             n_buckets=nb, specs=specs)
                # route engine loads to the bucketed copies — the
                # registry's documented layout switch
                os.environ["MRS_BUCKETED_DB"] = db
                bucketing_info = {
                    "bridge": rec.bridge, "database": db,
                    "fact_table": rec.fact_table,
                    "fact_key": rec.fact_key,
                    "bridge_table": rec.bridge_table,
                    "bridge_key": rec.bridge_key,
                    "join_weight": rec.join_weight,
                    "applied": True, "already_bucketed": have}
        # realized hit-rate: replay the log through the router's
        # plan-time choice — which materialization would now serve
        # each already-served query
        routed = 0
        for q in log:
            if rollup_manager._choose(q) is not None:
                routed += 1
        with cache_lock:
            # routing changed: a cached result's debug source would lie
            result_cache.clear()
            cache_stats["cells"] = 0
        return jsonify({
            "materialized": built,
            "already_materialized": already,
            "bucketing": bucketing_info,
            "log_size": len(log),
            "estimated_covered_weight": sum(
                b["est_covered_weight"] for b in built),
            "realized": {"routed": routed, "total": len(log),
                         "hit_rate": (routed / len(log)) if log else None},
        })

    @app.get("/stats")
    def stats():
        # process-level cache and pin state (ROADMAP direction 1):
        # plan-time cache entries/hits/misses per kind, the result
        # cache's counters, and the persisted RDDs Spark holds
        with cache_lock:
            rc = dict(cache_stats, entries=len(result_cache))
        return jsonify({
            "plan_cache": plancache.stats(),
            "result_cache": rc,
            "persisted_rdds": get_spark().sparkContext._jsc
                                         .getPersistentRDDs().size(),
        })

    @app.get("/flush")
    def flush():
        # reference api.rb:52-70: secret-gated cache invalidation
        if flush_secret is None or request.args.get("secret") != flush_secret:
            return jsonify({"error": "forbidden"}), 403
        get_spark().catalog.clearCache()
        plancache.invalidate()
        with cache_lock:
            result_cache.clear()
            cache_stats["cells"] = 0
        return jsonify({"status": "ok"})

    return app
