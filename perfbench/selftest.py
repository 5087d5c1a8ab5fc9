#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001-sized tables (about 2 min).

    python3 perfbench/selftest.py

Checks that:
  1. the same seed gives the same request sequence and another seed a
     different one, for every workload;
  2. every workload runs one cycle with every reply verified correct;
  3. a reply with one changed cell (or caption) is reported as failed,
     for each reply format the workloads produce;
  4. the prefix-filtered near-duplicate SQL the corpus workload checks
     minhash replies with equals the all-pairs d03 oracle;
  5. a traced run reports every per-layer metric.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402

SCALE = 0.001


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def requests_of(name, seed, data_dir, cycles=3) -> list:
    w = run.make_workload(name, seed, data_dir)
    out = [r.wire() for r in w.warm()]
    for _ in range(cycles):
        out += [r.wire() for r in w.cycle()]
    return out


def _bump(v):
    return v + 1 if isinstance(v, (int, float)) else f"{v}x"


def corrupt_one_cell(req, body: bytes) -> bytes | None:
    """The reply with one cell (or member caption) changed, or None when
    the reply has no cell to change."""
    c = req.check
    if c.kind == "agg" and c.fmt == "json":
        doc = json.loads(body)
        for vals in doc["values"]:
            for j, v in enumerate(vals):
                if v is not None:
                    vals[j] = _bump(v)
                    return json.dumps(doc).encode()
    elif c.kind == "agg" and c.fmt == "jsonrecords":
        doc = json.loads(body)
        for rec in doc["data"]:
            last = list(rec)[-1]
            if rec[last] is not None:
                rec[last] = _bump(float(rec[last]))
                return json.dumps(doc).encode()
    elif c.kind == "agg" and c.fmt == "csv":
        lines = body.decode().split("\n")
        for i in range(1, len(lines)):
            head, _, last = lines[i].rpartition(",")
            if last:
                lines[i] = f"{head},{float(last) + 1}"
                return "\n".join(lines).encode()
    elif c.kind == "agg" and c.fmt == "xlsx":
        with zipfile.ZipFile(io.BytesIO(body)) as z:
            parts = {n: z.read(n) for n in z.namelist()}
        sheet = parts["xl/worksheets/sheet1.xml"]
        row2 = sheet.index(b'<row r="2">')
        v = sheet.index(b"<v>", row2)
        end = sheet.index(b"</v>", v)
        num = float(sheet[v + 3:end]) + 1
        parts["xl/worksheets/sheet1.xml"] = (
            sheet[:v + 3] + str(num).encode() + sheet[end:])
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for n, data in parts.items():
                z.writestr(n, data)
        return buf.getvalue()
    elif c.kind == "frame":
        doc = json.loads(body)
        for row in doc["data"]:
            for j, v in enumerate(row):
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    row[j] = _bump(v)
                    return json.dumps(doc).encode()
    elif c.kind == "members":
        doc = json.loads(body)
        if doc["members"]:
            doc["members"][0]["caption"] = _bump(doc["members"][0]["caption"])
            return json.dumps(doc).encode()
    return None


def corruption_checks(res, data_dir) -> None:
    import checks
    oracle = checks.Oracle(data_dir)
    replies = res["replies"]
    done = set()
    for i, (req, _, _, _, body) in enumerate(replies):
        label = (req.check.kind, req.check.fmt)
        if label in done or corrupt_one_cell(req, body) is None:
            continue
        done.add(label)
        failures = run.check_replies(
            replies, oracle,
            corrupt=lambda k, b, i=i, req=req: (
                corrupt_one_cell(req, b) if k == i else b))
        expect(any(k == i for k, _ in failures),
               f"{res['info']['workload']}: one changed cell in a "
               f"{label[0]}/{label[1]} reply is reported failed")


def benchmark_metrics(section: str) -> set:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


def main() -> int:
    import datagen
    from checks import Oracle
    data_dir = datagen.ensure(os.path.join(run.BUILD, "data"), SCALE)

    for name in run.WORKLOADS:
        a = requests_of(name, 7, data_dir)
        expect(a == requests_of(name, 7, data_dir),
               f"{name}: same seed, same {len(a)} requests")
        expect(a != requests_of(name, 8, data_dir),
               f"{name}: another seed, other requests")

    import __spark_entry__ as entry
    import workloads
    oracle = Oracle(data_dir)
    fast = sorted(map(tuple, oracle.query(workloads.shingle_pairs_sql(0.5))[1]))
    full = sorted(map(tuple, oracle.query(
        entry.oracle_sql()["d03_neardup_minhash_lsh"])[1]))
    expect(fast == full and len(full) > 0,
           f"prefix-filtered near-dup SQL equals the d03 oracle "
           f"({len(full)} pairs)")

    os.makedirs(os.path.join(run.BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(run.BUILD, "tmp"))
    spark = run.start_spark(tmp)
    try:
        for name in run.WORKLOADS:
            res = run.run(name, 7, 0, 0, scale=SCALE, spark=spark)
            info = res["info"]
            expect(res["correct"] and res["attempted"] > 0,
                   f"{name}: {res['attempted']} replies verified correct "
                   f"{info['failures']}")
            expect(set(res["metrics"]) == benchmark_metrics("end_to_end"),
                   f"{name}: every end-to-end metric reported")
            corruption_checks(res, data_dir)
        res = run.run("olap_adhoc", 9, 0, 1, scale=SCALE, spark=spark)
        per_layer = benchmark_metrics("per_layer")
        expect(per_layer == set(res["metrics"]),
               f"traced run reports the {len(per_layer)} per-layer metrics")
        expect(res["metrics"]["planner.build_ms"]["value"] > 0
               and res["metrics"]["operators.build_ms"]["value"] == 0,
               "traced olap_adhoc: planner time > 0, operators time = 0")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
