#!/usr/bin/env python3
"""The repository benchmark: closed-loop REST workloads against the
engine, served in-process through the Flask test client of
``mondrian_rest_spark.api.create_app``.

    python3 perfbench/run.py --workload olap_adhoc --seed 1 --seconds 12 --trace 0

One process, one client thread, closed loop: each request is sent
after the previous reply arrived.  Spark runs ``local[N]`` with N =
the usable cores and N shuffle partitions.  The run builds its input
tables once per checkout (``datagen.py``, under ``.bench_build/``),
starts the engine, sets the app up, makes one untimed warm pass, then
times whole request cycles until ``--seconds`` have passed, checks
every reply against DuckDB, and prints one JSON object as the last
line of standard output.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of ``tracing.py``.

Workloads, metrics and the layer map are described in WORKLOADS.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap_adhoc", "olap_dashboard", "corpus_pipeline")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(root: int) -> dict:
    """{pid: CPU ticks (user + system, own and reaped children)} of
    process ``root`` and all its live descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:    # exited while listing
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            procs[int(d)] = (int(fields[1]),
                             sum(int(x) for x in fields[11:15]))
    children: dict = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its descendants: the engine's Python
    driver, its JVM and any Python workers the JVM started."""
    return sum(descendants(root).values()) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def make_workload(name, seed, data_dir):
    import workloads
    if name == "olap_adhoc":
        return workloads.Adhoc(seed)
    if name == "olap_dashboard":
        return workloads.Dashboard(seed)
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    n_vec = pq.ParquetFile(os.path.join(
        data_dir, "embeddings.parquet")).metadata.num_rows
    return workloads.Corpus(seed, entry.oracle_sql(), n_vec)


def start_spark(tmp: str):
    """Session on local[N] whose scratch, warehouse and JVM temp dirs
    are fresh directories under ``tmp``."""
    n = cores()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={tmp}/local",
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-Xms2g -XX:NewSize=512m -XX:MaxNewSize=512m'",
        "--conf spark.ui.enabled=false",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    from mondrian_rest_spark.sources.registry import build_session
    spark = build_session(app_name="perfbench", master=f"local[{n}]",
                          shuffle_partitions=n)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = set(descendants(os.getpid())) - {os.getpid()}
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        # Python workers the JVM forked exit once its pipes close
        deadline = time.time() + 30
        while workers and time.time() < deadline:
            workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in workers:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:   # exited since the last look
                pass


def build_app(spark, data_dir, workload):
    """The app for ``workload``: a rollup manager with the workload's
    grains (rollups of an earlier app in the same session are
    unpersisted first) and a Flask app over it."""
    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.api import create_app
    from mondrian_rest_spark.plans.rollup import RollupManager

    import workloads
    spark.catalog.clearCache()
    mgr = None
    if workload.rollup_grains:
        mgr = RollupManager(spark, data_dir, tpch.CATALOG, "Sales")
        for name, grain in workload.rollup_grains.items():
            mgr.register(name, grain)
    return create_app(tpch.CATALOG, data_dir, spark=spark,
                      flush_secret=workloads.FLUSH_SECRET,
                      rollup_manager=mgr)


def send(client, req):
    resp = client.open(req.path, method=req.method, data=req.body)
    return resp.status_code, resp.get_data()


def percentile(sorted_ms: list, p: float) -> float:
    """Inclusive linear-interpolation percentile of sorted samples."""
    r = p / 100 * (len(sorted_ms) - 1)
    lo = int(r)
    hi = min(lo + 1, len(sorted_ms) - 1)
    return sorted_ms[lo] + (sorted_ms[hi] - sorted_ms[lo]) * (r - lo)


def mode_window(samples: list, p: float) -> dict:
    """The two sorted samples percentile ``p`` interpolates between:
    their request kinds and the ratio of the larger to the smaller.
    One kind means the percentile sits inside that kind's latency mode;
    two kinds with a large ratio mean it falls on a mode boundary."""
    s = sorted(samples)
    r = p / 100 * (len(s) - 1)
    lo, hi = s[int(r)], s[min(int(r) + 1, len(s) - 1)]
    return {"kinds": sorted({lo[1], hi[1]}), "ratio": hi[0] / lo[0]}


def timed_loop(client, workload, seconds, tracer=None, cache_stats=None):
    """Closed loop over whole cycles until ``seconds`` have passed.
    Returns [(request, kind, ms, status, body)]."""
    out = []
    t_start = time.perf_counter()
    while True:
        for req in workload.cycle():
            misses = cache_stats["misses"] if cache_stats else 0
            if tracer:
                tracer.begin(len(out))
            t = time.perf_counter()
            try:
                status, body = send(client, req)
            except Exception as e:  # a failed request, not a failed run
                status, body = None, repr(e).encode()
            ms = (time.perf_counter() - t) * 1000
            if tracer:
                tracer.end()
            kind = req.kind
            if cache_stats and req.check.kind == "agg" and \
                    cache_stats["misses"] > misses:
                kind = "agg_miss"
            out.append((req, kind, ms, status, body))
        if time.perf_counter() - t_start >= seconds:
            return out, time.perf_counter() - t_start


def check_replies(replies, oracle, corrupt=None) -> list:
    """Verify every distinct reply once; a repeat whose body equals the
    verified one passes, any other body is verified in full.  Json
    replies go first so tabular bodies can be cross-checked against
    the same panel's cells.  ``corrupt(i, body)`` lets the self-test
    alter a reply.  Returns [(index, reason)] of the failures."""
    import checks
    failures, verified, json_ref = [], {}, {}
    order = sorted(range(len(replies)),
                   key=lambda i: replies[i][0].check.fmt != "json")
    for i in order:
        req, _, _, status, body = replies[i]
        if corrupt is not None:
            body = corrupt(i, body)
        if verified.get(req.key) == body:
            continue
        panel = req.key.replace(f"/aggregate.{req.check.fmt}?",
                                "/aggregate?")
        try:
            bad = checks.diff_reply(req, status, body, oracle,
                                    json_ref.get(panel))
            if bad is None and req.check.kind == "agg" and \
                    req.check.fmt == "json":
                json_ref[panel] = checks.json_cells(
                    body, len(req.check.measures))
        except Exception as e:  # an unreadable reply is a wrong answer
            bad = f"{type(e).__name__}: {e}"
        if bad is None:
            verified.setdefault(req.key, body)
        else:
            failures.append((i, bad))
    return failures


def run(name, seed, seconds, trace, scale=0.1, corrupt=None,
        spark=None) -> dict:
    """One benchmark run; returns the result object.  ``spark``: reuse a
    running session (self-test) instead of starting one."""
    import checks
    import datagen
    data_dir = datagen.ensure(os.path.join(BUILD, "data"), scale)
    load0 = os.getloadavg()
    t_setup = time.time()
    own = spark is None
    tmp = None
    if own:
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        tmp = tempfile.mkdtemp(dir=os.path.join(BUILD, "tmp"))
    try:
        if own:
            spark = start_spark(tmp)
        session_s = time.time() - t_setup
        workload = make_workload(name, seed, data_dir)
        t = time.time()
        app = build_app(spark, data_dir, workload)
        app_s = time.time() - t
        client = app.test_client()
        warm_ms = []
        for req in workload.warm():
            t = time.perf_counter()
            send(client, req)
            warm_ms.append((time.perf_counter() - t) * 1000)
        setup_s = time.time() - t_setup

        tracer = None
        if trace:
            from tracing import Tracer
            tracer = Tracer(spark)
        cache_stats = app.extensions["mrs_result_cache"][1]
        hits0, misses0 = cache_stats["hits"], cache_stats["misses"]
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_ticks()
        replies, window_s = timed_loop(client, workload, seconds, tracer,
                                       cache_stats)
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        steal1 = steal_ticks()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        window_stats = {"hits": cache_stats["hits"] - hits0,
                        "misses": cache_stats["misses"] - misses0}
        pids = [os.getpid()]
        if own:
            from pyspark import SparkContext
            pids.append(SparkContext._gateway.proc.pid)
        rss = [peak_rss_mb(pid) for pid in pids]
        if tracer:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            tracer.dump(os.path.join(BUILD, "traces",
                                     f"{name}-seed{seed}.json"))
    finally:
        if own:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(tmp, ignore_errors=True)

    failures = check_replies(
        replies, checks.Oracle(data_dir, os.path.join(BUILD, "oracle")),
        corrupt)
    lat = sorted((ms, kind) for _, kind, ms, _, _ in replies)
    ms_sorted = [m for m, _ in lat]
    n = len(lat)
    p50, p90 = percentile(ms_sorted, 50), percentile(ms_sorted, 90)
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_rps": (n / window_s, "1/s"),
        "latency_p90_ms": (p90, "ms"),
        "peak_rss_mb": (sum(rss), "MB"),
        "cpu_ms_per_request": (cpu_s * 1000 / n, "ms"),
    }
    info = {
        "workload": name, "seed": seed, "requests": n,
        "failed_ratio": len(failures) / n, "latency_p50_ms": p50,
        "beyond_p90": sum(m > p90 for m in ms_sorted),
        "p50_kinds": mode_window(lat, 50), "p90_kinds": mode_window(lat, 90),
        "kinds": {k: [round(m) for m, x in lat if x == k]
                  for k in sorted({x for _, x in lat})},
        "session_s": session_s, "app_setup_s": app_s, "warm_ms": warm_ms,
        "window_s": window_s, "peak_rss_mb_python_jvm": rss,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "steal_fraction": steal,
        "failures": failures[:5],
    }
    metrics = e2e
    if trace:
        metrics = tracer.layer_metrics(window_stats)
        metrics["trace.throughput_rps"] = e2e["throughput_rps"]
        metrics["trace.latency_p50_ms"] = (p50, "ms")
    return {"correct": not failures, "attempted": n,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
            "info": info, "replies": replies}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its temp dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [HERE, ROOT]
    try:
        import mondrian_rest_spark.api  # noqa: F401

        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable: {e}", file=sys.stderr)
        return 2
    res = run(args.workload, args.seed, args.seconds, args.trace)
    info = res.pop("info")
    res.pop("replies")
    print(f"# {info['workload']} seed={info['seed']}: "
          f"{info['requests']} requests, "
          f"failed_ratio={info['failed_ratio']:.4f} "
          f"({res['failed']} of {res['attempted']}), "
          f"latency_p50_ms={info['latency_p50_ms']:.6g} ms "
          f"(n={info['requests']}), "
          f"latency samples beyond p90={info['beyond_p90']}")
    for k, m in res["metrics"].items():
        print(f"#   {k} = {m['value']:.6g} {m['unit']}")
    print("# " + json.dumps(info, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
