#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark's JVM side (see build.py), runs
one workload in a fresh JVM on local[nproc], checks
the outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.

Everything a run writes lives under .bench_run/ and is removed when
the run ends. One record per run (seed, weather, raw timings) is
appended to .bench_out/runs.jsonl, and traced runs also write their
per-op span breakdown there.

`--record` also writes every output as parquet before the window and
compares whole results with the DuckDB oracles; for curate it then
rewrites perfbench/expected_digests.json (see perfbench/README.md).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the source tree clean of __pycache__
from build import build, fail, log, spark_jars  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_LIMIT_S = 172  # the whole run, build excluded, must end within 180 s
CHECK_RESERVE_S = 8  # output checks and clean-up after the JVM
HEAP = "3g"

# workload name -> (JVM workload, scale factor)
WORKLOADS = {
    "tpch-sf0.02": ("tpch", 0.02),
    "curate-sf0.01": ("curate", 0.01),
}

TPCH_KEYS = [
    "q1_full_pricing_summary", "q2_full_min_cost_supplier", "q3_full_shipping_priority",
    "q4_full_order_priority", "q5_full_local_supplier", "q6_full_forecast_revenue",
    "q7_full_volume_shipping", "q8_full_market_share", "q9_full_profit",
    "q10_full_returned_items", "q11_full_important_stock", "q12_full_priority_class",
    "q13_full_customer_distribution", "q14_full_promo_revenue", "q15_full_top_supplier",
    "q16_full_parts_supplier_cnt", "q17_full_small_qty_revenue", "q18_full_large_orders",
    "q19_full_discounted_revenue", "q20_full_excess_suppliers", "q21_full_waiting_suppliers",
    "q22_full_global_sales"]
CURATE_KEYS = [
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_containment", "dedup_components",
    "pipeline_split_cluster", "text_quality", "text_lm_score", "text_repetition",
    "ann_cosine_topk", "ann_ivf_balanced", "ann_mmr_rerank", "pipeline_curate",
    "graph_triangles", "graph_pagerank", "graph_kcore"]
INGEST_KEYS = ["aux_persist", "stream_sink", "compact", "bucketed"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("pass_cpu_s", "s"), ("op_geomean_s", "s"),
              ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("session.start_s", "s"), ("tpch.corpus_s", "s"), ("tpch.plan_s", "s"),
    ("tpch.exec_s", "s"), ("tpch.gen_s", "s"), ("sources.persist_s", "s"),
    ("sources.scan_s", "s"), ("sources.scan_bytes", "bytes"),
    ("sources.write_bytes", "bytes"), ("sources.bucket_s", "s"),
    ("sources.compact_s", "s"), ("sources.compact_files_in", "count"),
    ("sources.compact_files_out", "count"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"), ("streaming.commit_s", "s"),
    ("streaming.rows_per_s", "rows/s"), ("streaming.batch_p50_s", "s"),
    ("streaming.batch_p80_s", "s"), ("sources.ingest_rows_per_s", "rows/s"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_records", "count"),
    ("exchange.fetch_wait_s", "s"), ("exchange.shuffle_write_s", "s"),
    ("stages.count", "count"), ("stages.tasks", "count"), ("stages.floor_s", "s"),
    ("stages.floor_per_stage_s", "s"),
    ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_s", "s"),
    ("exec.spill_bytes", "bytes"), ("exec.busy_ratio", "ratio"),
    ("dedup.s", "s"), ("text.s", "s"), ("similarity.s", "s"), ("graph.s", "s"),
    ("pipeline.s", "s"), ("dedup.shuffle_records", "count"), ("graph.stages", "count"),
    ("pipeline.stages", "count"),
    ("trace.overhead_ratio", "ratio"), ("trace.unattributed_s", "s"),
    ("ops_failed_ratio", "ratio"),
] + [(f"op.{k}.s", "s") for k in TPCH_KEYS + CURATE_KEYS + INGEST_KEYS]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# ---------------------------------------------------------------- weather

def cpu_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def weather():
    return {"load1": os.getloadavg()[0], "cpu": cpu_stat(),
            "disk_free_gb": round(shutil.disk_usage(ROOT).free / 2**30, 2)}


# ------------------------------------------------------------------ checks

def connect(run_dir, memory):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET memory_limit = '{memory}'")
    con.execute(f"SET temp_directory = '{run_dir}/tmp'")
    return con


def canon(con, sql, fmt):
    """Rows of a query, columns sorted by name, values stringified with
    `fmt`, rows sorted — dev/compare.py's canonicalisation."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(fmt(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def exact(v):
    return repr(v)


def oracle_digest(con, sql):
    """DuckDB twin of BenchMain.portableDigestColumns over an oracle."""
    rel = con.sql(sql)
    parts = []
    for name, typ in sorted(zip(rel.columns, rel.types), key=lambda c: c[0]):
        t = str(typ).upper()
        col = '"' + name.replace('"', '""') + '"'
        if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
            col = f"CAST(round({col} * 10000) AS BIGINT)"
        parts.append(f"coalesce(CAST({col} AS VARCHAR), '\\N')")
    row = con.sql(f"""
        SELECT count(*),
               coalesce(sum(('0x' || substr(h, 1, 15))::BIGINT % 1000000007), 0),
               coalesce(sum(('0x' || substr(h, 16, 15))::BIGINT % 998244353), 0)
        FROM (SELECT md5(concat_ws('|', {", ".join(parts)})) AS h FROM ({sql}) o)""").fetchone()
    return ":".join(str(x) for x in row)


def check_tpch(res, run_dir):
    """Every timed execution's observed digest against the same digest
    of the query's DuckDB oracle over the same corpus."""
    c = res["checks"]["tpch"]
    con = connect(run_dir, "2GB")
    want = {q["variant"]: oracle_digest(con, q["oracle"]) for q in c["queries"]}
    bad = [f"{d['variant']}: digest {d['digest']}, DuckDB oracle {want[d['variant']]}"
           for d in c["digests"] if want[d["variant"]] != d["digest"]]
    oracles = {q["variant"]: q["oracle"] for q in c["queries"]}
    for o in c["outputs"]:  # --record: full results too
        got = canon(con, f"SELECT * FROM read_parquet('{o['out']}/*.parquet')", exact)
        if got != canon(con, oracles[o["variant"]], exact):
            bad.append(f"{o['variant']}: result differs from the DuckDB oracle")
        else:
            log(f"{o['variant']}: result equal to the DuckDB oracle ({len(got[1])} rows)")
    return len(c["digests"]) + len(c["outputs"]), bad


def check_curate(res, sf, record, run_dir):
    """Every timed execution's observed digest against the recorded one."""
    c = res["checks"]["curate"]
    path = os.path.join(HERE, "expected_digests.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    if record:
        expected[str(sf)] = record_curate(c, run_dir)
        with open(path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(expected[str(sf)])} digests for sf {sf}")
    want = expected.get(str(sf), {})
    bad = [f"{d['key']}: digest {d['digest']}, expected {want.get(d['key'], {}).get('digest')}"
           for d in c["digests"] if want.get(d["key"], {}).get("digest") != d["digest"]]
    return len(c["digests"]), bad


def record_curate(c, run_dir):
    """Expected digest per op, with how it was confirmed: the parquet
    output of the record pass replayed against the op's DuckDB oracle
    over the same generated input."""
    con = connect(run_dir, "6GB")
    for t in os.listdir(c["inputs"]):
        con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{c['inputs']}/{t}/*.parquet')")
    observed = {}
    for d in c["digests"]:
        observed.setdefault(d["key"], set()).add(d["digest"])
    out = {}
    for o in c["outputs"]:
        k = o["key"]
        if len(observed.get(k, ())) != 1:
            fail(f"{k}: executions disagree: {sorted(observed.get(k, ()))}")
        sql = c["oracles"].get(k)
        if sql is None:
            how = "spark output; no registry oracle"
        else:
            t0 = time.time()
            got = canon(con, f"SELECT * FROM read_parquet('{o['out']}/*.parquet')", exact)
            try:
                want = canon(con, sql, exact)
            except Exception as e:  # noqa: BLE001 - record which oracle could not run
                want = None
                how = f"spark output; DuckDB oracle did not finish: {str(e).splitlines()[0]}"
            if want is not None and got != want:
                fail(f"{k}: spark output differs from the DuckDB oracle")
            if want is not None:
                how = f"spark output equal to the DuckDB oracle ({len(got[1])} rows, " \
                      f"{time.time() - t0:.1f} s)"
        out[k] = {"digest": observed[k].pop(), "how": how}
        log(f"{k}: {how}")
    return out


def check_ingest(c):
    """The write-path probe of a traced tpch run."""
    bad = list(c["errors"])
    if bad:
        return len(bad), bad
    for t in c["counts"]:
        if t["rows"] != t["expected"]:
            bad.append(f"{t['table']}: {t['rows']} rows landed, generator has {t['expected']}")
    d = c["digests"]
    if not d["events"] == d["streamed"] == d["compacted"]:
        bad.append(f"events digest {d['events']}, streamed {d['streamed']}, "
                   f"compacted {d['compacted']}")
    if d["lineitem"] != d["bucketed"]:
        bad.append(f"lineitem digest {d['lineitem']}, bucketed {d['bucketed']}")
    if c["batches"] != c["expected_batches"]:
        bad.append(f"stream ran {c['batches']} micro-batches, expected {c['expected_batches']}")
    return len(c["counts"]) + 3, bad


# ----------------------------------------------------------------- metrics

def end_to_end(res):
    """Per op, the median of its timed executions; a pass is their sum."""
    wall, cpu = {}, {}
    for p in res["passes"]:
        for o in p["ops"]:
            if o["s"] >= 0:
                wall.setdefault(o["key"], []).append(o["s"])
                cpu.setdefault(o["key"], []).append(o["cpu_s"])
    per_op = [statistics.median(v) for v in wall.values()]
    m = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": sum(per_op),
        "pass_cpu_s": sum(statistics.median(v) for v in cpu.values()),
        "op_geomean_s": math.exp(sum(math.log(v) for v in per_op) / len(per_op)),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END}


def per_layer(res):
    layers = res["layers"]
    return {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    kind, sf = WORKLOADS[a.workload]
    classes = build()

    t_start = time.time()
    w0 = weather()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    jvm_log = os.path.join(run_dir, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{os.path.join(ROOT, 'src', 'main', 'resources')}:"
                     f"{spark_jars()}/*", "graft.perfbench.BenchMain",
              "--workload", kind, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--sf", str(sf), "--cores", str(cores),
              "--run-dir", run_dir, "--out", out]
           + (["--ops", ",".join(CURATE_KEYS)] if kind == "curate" else [])
           + (["--record", "1"] if a.record else []))
    proc = None
    try:
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=run_dir, start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_start))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("workload timed out")
        if rc != 0 or not os.path.exists(out):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            fail(f"JVM exited with {rc}")
        res = json.load(open(out))
        t_jvm = time.time() - t_start
        if kind == "tpch":
            n_checks, bad = check_tpch(res, run_dir)
            if res["checks"]["ingest"]:
                n, b = check_ingest(res["checks"]["ingest"])
                n_checks, bad = n_checks + n, bad + b
        else:
            n_checks, bad = check_curate(res, sf, a.record, run_dir)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    timed = [o for p in res["passes"] for o in p["ops"]]
    op_errors = [f"{o['key']}: {o['error']}" for o in timed if o["error"]]
    for b in bad + op_errors:
        log(f"FAILED {b}")
    attempted = len(timed) + n_checks
    failed = len(op_errors) + len(bad)
    w1 = weather()
    steal_d, total_d = (w1["cpu"][0] - w0["cpu"][0]), (w1["cpu"][1] - w0["cpu"][1])
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "steal_pct": round(100.0 * steal_d / total_d, 3) if total_d else None,
        "load1": [w0["load1"], w1["load1"]],
        "disk_free_gb": [w0["disk_free_gb"], w1["disk_free_gb"]],
        "versions": res["versions"], "wall_s": round(time.time() - t_start, 2),
        "jvm_s": round(t_jvm, 2), "setup_s": res["setup_s"], "session_s": res["session_s"],
        "inputs_s": res["inputs_s"], "passes": res["passes"], "failures": bad + op_errors,
    }
    if a.trace:
        res["layers"]["ops_failed_ratio"] = failed / attempted
    metrics = per_layer(res) if a.trace else end_to_end(res)
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if a.trace:
        with open(os.path.join(ROOT, ".bench_out", f"spans-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(res["spans"], f, indent=1)
    print("# weather " + json.dumps({k: record[k] for k in (
        "seed", "nproc", "steal_pct", "load1", "disk_free_gb", "versions")}))
    print(json.dumps({"correct": not bad and not op_errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
