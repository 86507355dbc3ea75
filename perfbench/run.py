#!/usr/bin/env python3
"""graft benchmark: one closed-loop client in one JVM at local[nproc].

    python3 perfbench/run.py --workload fusion_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the harness (perfbench/harness) with scalac into the build directory
($CARGO_TARGET_DIR, default .bench_build), generates the corpora and
replays the oracles in DuckDB into parquet files; later runs reuse all
three. Each run then builds its seed's inputs (query order, change
feeds and their expected tables), starts the JVM, compares every op's
digest with the digest of its expected table, and prints one JSON line
last on stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

QUERIES = ["q1_pricing_summary", "q_star_join_agg", "q_valid_entities",
           "q_topn_per_group", "q_asof_join", "q_sessionize", "q_median_narrow",
           "q_quantiles_multi", "q_weighted_median_narrow", "q_rfm", "q_psi",
           "sim_bruteforce_topk"]
WORKLOADS = {
    # data set, scale, tables, files per table
    "fusion_etl": ("fact", 0.1, {"orders", "events", "customer"}, 4),
    "analytics_mix": ("sf0.01", 0.01, None, 1),
}
FEEDS = 16
FEED_YEARS = (1997, 1999)
FEED_ROWS = 150          # deletes, updates and inserts each, per feed
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_min", "1/min"),
              ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_jars():
    """The jar directory the repo's own build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        fail(f"no Spark jars in {d}")
    return d


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found: run from the root of a graft checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build():
    """Compile engine + harness once per source state; return classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    cp = [classes, os.path.join(ROOT, "src/main/resources"), os.path.join(jars, "*")]
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def java_cmd(cp, work, *args, heap="2g"):
    # A fixed, pre-touched heap and the stop-the-world parallel collector:
    # G1's concurrent threads compete with the local[nproc] task threads
    # for the same few cores and kept fusion_etl op times falling for
    # ten ops and more.
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
               "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               f"-Dderby.stream.error.file={work}/tmp/derby.log",
               "-cp", os.pathsep.join(cp), "graftbench.GraftBench"] + list(args))


def run_jvm(cmd, work, log_name):
    """Run the JVM in its own process group; kill the group on timeout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    with open(os.path.join(work, log_name), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s (log: {work}/{log_name})")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        tail = open(os.path.join(work, log_name)).read()[-3000:]
        fail(f"JVM exited {rc}:\n{tail}")


# ----------------------------------------------------------------- data

def dataset(spec):
    """Generate a corpus unless its stamp matches; return (dir, stamp)."""
    name, sf, which, files = spec
    d = os.path.join(BUILD, "data", name)
    stamp = f"v{datagen.VERSION} sf={sf} tables={sorted(which) if which else 'all'} files={files}"
    if not (os.path.exists(d + ".stamp") and open(d + ".stamp").read() == stamp):
        log(f"generating {name}")
        datagen.write(d, sf, which, files)
        with open(d + ".stamp", "w") as f:
            f.write(stamp)
    return d, stamp


# ---------------------------------------------------------------- oracles

def oracles(cp, stamp, data):
    """Directory of oracle results, `<query>.parquet` for every query
    and the fusion flow: SparkEntry.oracleSql replayed by DuckDB once per
    (engine source, corpus) state and written with COPY, so the harness
    digests them with the same code as the ops."""
    import duckdb
    key = hashlib.sha256(repr((stamp, sorted(data.items()))).encode()).hexdigest()[:16]
    out = os.path.join(BUILD, f"oracle-{key}")
    if os.path.isdir(out):
        return out
    log("replaying oracles in DuckDB")
    work = os.path.join(BUILD, "work", "oracles")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    sql_file = os.path.join(work, "oracle_sql.json")
    run_jvm(java_cmd(cp, work, "oracles", sql_file, *QUERIES, "q_fusion_etl", heap="1g"),
            work, "oracles.log")
    sql = json.load(open(sql_file))
    for wl, names in (("analytics_mix", QUERIES), ("fusion_etl", ["q_fusion_etl"])):
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{work}/duckdb'")
        d = data[wl][0]
        for t in os.listdir(d):
            if t.endswith(".parquet"):
                src = os.path.join(d, t)
                src = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{src}')")
        for q in names:
            if not sql.get(q):
                fail(f"no oracle SQL for {q}")
            body = sql[q].strip().rstrip(";")
            con.execute(f"COPY ({body}) TO '{work}/out/{q}.parquet' (FORMAT parquet)")
        con.close()
    os.rename(os.path.join(work, "out"), out)
    return out


# ------------------------------------------------------------ run inputs

def fusion_feeds(base, seed, feed_path, expect_dir):
    """Seed-chosen change feeds over the fusion output (`base`, the
    oracle of q_fusion_etl): each deletes, updates and inserts FEED_ROWS
    rows inside FEED_YEARS. DuckDB writes the expected reloaded table of
    feed f to `<expect_dir>/feed-<f>.parquet`."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute(f"CREATE VIEW base AS SELECT * FROM read_parquet('{base}')")
    cur = con.execute(f"SELECT * FROM base WHERE case_year IN {FEED_YEARS} ORDER BY o_orderkey")
    cols = [c[0] for c in cur.description]
    pool = [dict(zip(cols, r)) for r in cur.fetchall()]
    max_key = con.execute("SELECT max(o_orderkey) FROM base").fetchone()[0]
    rng = random.Random(seed)
    feed = []
    for f in range(FEEDS):
        picked = rng.sample(pool, 2 * FEED_ROWS)
        inserts = [{"o_orderkey": max_key + 1 + f * FEED_ROWS + j,
                    "case_year": FEED_YEARS[j % len(FEED_YEARS)],
                    "total_price": round(rng.uniform(1000, 500000), 2),
                    "order_datestring": f"{FEED_YEARS[j % len(FEED_YEARS)]}-"
                                        f"{1 + j % 12:02d}-{1 + j % 28:02d}",
                    "source": "eCollision Oracle"} for j in range(FEED_ROWS)]
        updates = [dict(r, total_price=round(rng.uniform(1000, 500000), 2))
                   for r in picked[FEED_ROWS:]]
        feed += [dict(feed_op=f, kind="D", **{c: (r[c] if c == "o_orderkey" else None)
                                               for c in cols}) for r in picked[:FEED_ROWS]]
        feed += [dict(feed_op=f, kind="U", **r) for r in updates]
        feed += [dict(feed_op=f, kind="I", **r) for r in inserts]
    pq.write_table(pa.Table.from_pylist(feed, pa.schema([
        ("feed_op", pa.int32()), ("kind", pa.string()), ("o_orderkey", pa.int64()),
        ("case_year", pa.int64()), ("total_price", pa.float64()),
        ("order_datestring", pa.string()), ("source", pa.string())])), feed_path)
    con.execute(f"CREATE VIEW feed AS SELECT * FROM read_parquet('{feed_path}')")
    os.makedirs(expect_dir)
    names = ", ".join(cols)
    for f in range(FEEDS):
        con.execute(f"""COPY (
            SELECT {names} FROM base WHERE o_orderkey NOT IN
              (SELECT o_orderkey FROM feed WHERE feed_op = {f} AND kind <> 'I')
            UNION ALL
            SELECT {names} FROM feed WHERE feed_op = {f} AND kind <> 'D'
          ) TO '{expect_dir}/feed-{f}.parquet' (FORMAT parquet)""")
    con.close()


def query_order(seed, path, cycles=16):
    rng = random.Random(seed)
    order = []
    for _ in range(cycles):
        c = QUERIES[:]
        rng.shuffle(c)
        order += c
    with open(path, "w") as f:
        f.write("\n".join(order) + "\n")


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def typical(ops):
    """(p50, ops per minute, ops used) of op walls.

    Ops that ran while the hypervisor stole CPU (graft.StealGate's rate,
    per op) are left out wherever a kind has a quiet op; they still
    count as attempted and are checked. Each op kind (a query of the
    mix; the one op of fusion_etl) gets its own median, and p50 is their
    geometric mean: a pooled median over a mix of unlike queries jumps
    between neighbouring queries from run to run. Ops per minute run the
    mix back to back, each kind weighted equally."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o.get("query"), []).append(o)
    kinds = {k: [o for o in v if o["quiet"]] or v for k, v in kinds.items()}
    med = {k: median([o["wall_s"] for o in v]) for k, v in kinds.items()}
    p50 = math.exp(statistics.fmean(math.log(m) for m in med.values()))
    mean_s = statistics.fmean(statistics.fmean(o["wall_s"] for o in v) for v in kinds.values())
    n = sum(len(v) for v in kinds.values())
    return p50, 60.0 / mean_s, n


def union_ms(intervals, lo, hi):
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def max_overlap(intervals):
    ev = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                key=lambda e: (e[0], e[1]))
    cur = best = 0
    for _, d in ev:
        cur += d
        best = max(best, cur)
    return best


def ledger(res, ops):
    """Per-op Spark counters: jobs and SQL executions by the op's time
    window, stages through the first job that lists them."""
    jobs = [j for j in res["jobs"] if j["t1"] >= 0]
    job_of = {}
    for j in sorted(res["jobs"], key=lambda j: j["id"]):
        for sid in j["stages"]:
            job_of.setdefault(sid, j["id"])
    sql = res["sql"]
    cpus = res["cpus"]
    rows = []
    inside = set()
    for o in ops:
        lo, hi = o["t0"], o["t1"]
        oj = [j for j in jobs if lo <= j["t0"] and j["t1"] <= hi]
        inside.update(j["id"] for j in oj)
        ids = {j["id"] for j in oj}
        os_ = [s for s in res["stages"] if job_of.get(s["id"]) in ids]
        iv = [(j["t0"], j["t1"]) for j in oj]
        wall = o["wall_s"]
        run_s = sum(s["run_ms"] for s in os_) / 1e3
        rows.append({
            "op": o["id"], "query": o.get("query"), "wall_s": wall,
            "spark.jobs": len(oj),
            "spark.small_jobs": sum(1 for a, b in iv if b - a < 100),
            "spark.stages": len(os_),
            "spark.tasks": sum(s["tasks"] for s in os_),
            "spark.driver_gap_s": max(0.0, (hi - lo - union_ms(iv, lo, hi)) / 1e3),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in os_) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in os_) / 1e3,
            "spark.core_busy": run_s / (wall * cpus) if wall > 0 else 0.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in os_),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in os_),
            "spark.spill_bytes": sum(s["spill"] for s in os_),
            "spark.max_concurrent_jobs": max_overlap(iv),
            "sources.input_bytes": sum(s["in_bytes"] for s in os_),
            "sources.input_rows": sum(s["in_rows"] for s in os_),
            "plans.exchanges": sum(q["exchanges"] for q in sql if lo <= q["t0"] <= hi),
        })
    stray = sum(1 for j in res["jobs"] if j["id"] not in inside)
    return rows, stray


PER_OP = ["sources.write_s", "sources.output_bytes", "sources.output_files",
          "operators.call_s", "operators.incremental_s", "operators.changed_parts",
          "operators.rows_rewritten", "plans.plan_s"]
LEDGER = ["sources.input_bytes", "sources.input_rows", "plans.exchanges",
          "spark.jobs", "spark.small_jobs", "spark.stages", "spark.tasks",
          "spark.driver_gap_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
          "spark.core_busy", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
          "spark.spill_bytes", "spark.max_concurrent_jobs"]
UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "core_busy": "ratio", "write_amp": "ratio"}


def unit(name):
    return next((u for k, u in UNITS.items() if name.endswith(k)), "count")


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, stamp = build()
    data = {w: dataset(spec) for w, spec in WORKLOADS.items()}
    orc = oracles(cp, stamp, data)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "fusion_etl":
        inputs = os.path.join(work, "feeds.parquet")
        expect = os.path.join(work, "expected")
        fusion_feeds(os.path.join(orc, "q_fusion_etl.parquet"), a.seed, inputs, expect)
    else:
        inputs = os.path.join(work, "order.txt")
        expect = orc
        query_order(a.seed, inputs)
    out = os.path.join(work, "result.json")
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_jvm(java_cmd(cp, work, "run", a.workload, data[a.workload][0], work, out,
                     str(a.seconds), str(a.trace), str(cpus), expect, inputs),
            work, "jvm.log")
    res = json.load(open(out))

    # Correctness: every op's digest against its expected table's.
    ops = res["ops"]
    failed = 0
    for o in ops:
        ref = res["expected"].get(o.get("expect"))
        ok = "error" not in o and ref is not None and \
            (o["rows"], o["hash"], o["cols"]) == (ref["rows"], ref["hash"], ref["cols"])
        o["ok"] = ok
        if not ok:
            failed += 1
            log(f"op {o['id']} {o.get('query', '')} failed: {o.get('error', 'digest mismatch')}")

    timed = [o for o in ops if o["phase"] == "untraced"]
    p50, per_min, used = typical(timed)
    metrics = {
        "setup_s": res["setup_s"],
        "op_p50_s": p50,
        "ops_per_min": per_min,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "check": "oracle digest (DuckDB replay of SparkEntry.oracleSql)"
                       + (" + change feed" if a.workload == "fusion_etl" else ""),
              "session_s": res["session_s"], "peak_live_heap_mb": res["peak_live_heap_bytes"] / 2**20,
              "ops": len(timed), "quiet_ops": used,
              "host": res["host"],
              "op_walls": [[o.get("query", a.workload), o["phase"], o["wall_s"], o["steal_jiffies"],
                            o["ok"]] for o in ops]}
    if a.trace:
        traced = [o for o in ops if o["phase"] == "traced"]
        rows, stray = ledger(res, traced)
        for o, r in zip(traced, rows):
            for k in PER_OP:
                r[k] = o.get(k, 0)
            if a.workload == "fusion_etl":
                r["operators.write_amp"] = o["operators.rows_rewritten"] / (3.0 * FEED_ROWS)
        layer = {k: median([r.get(k, 0) for r in rows]) for k in PER_OP + LEDGER}
        layer["operators.write_amp"] = median([r.get("operators.write_amp", 0) for r in rows])
        layer["spark.stray_jobs"] = stray
        for q in QUERIES:
            mine = [r for r in rows if r["query"] == q]
            layer[f"query.{q}.p50_s"] = median([r["wall_s"] for r in mine])
            layer[f"query.{q}.jobs"] = median([r["spark.jobs"] for r in mine])
        layer["fail_ratio"] = failed / len(ops)
        layer["op_count"] = used
        layer["jvm.peak_live_heap_mb"] = res["peak_live_heap_bytes"] / 2**20
        layer["trace_overhead"] = typical(traced)[0] / metrics["op_p50_s"]
        record.update(ledger=rows, spans=res["spans"], layer=layer)
        out_metrics = {k: {"value": v, "unit": "ratio" if k in ("fail_ratio", "trace_overhead")
                           else unit(k)}
                       for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    record["metrics"] = out_metrics
    rec_path = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    log(f"record: {rec_path}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
