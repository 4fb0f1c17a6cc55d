#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness
(`build.py`), generates the seed's inputs (`gen.py`), runs the harness JVM
in a directory of its own, checks the outputs (DuckDB oracle, golden
report, artifact agreement), and prints one JSON object as the last line:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Traced runs also write their ledger to
`.bench_build/ledger/<workload>-s<seed>.json` (compare two with
`ledger_diff.py`). README.md gives the design.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen

TPCH = ["region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events"]
TEXT = ["documents", "embeddings"]

# kind: which harness loop runs; sf/docs/vecs: input sizes; tables: the
# inputs whose rows `rows_per_s` counts for the query workloads.
WORKLOADS = {
    "queries-curation": dict(
        kind="queries", sf=0.001, docs=500, vecs=500, tables=TEXT, min_units=2,
        queries=["q111_distinct_ngrams", "q11_dedup_near", "q80_containment",
                 "q49_kmeans_ivf"]),
    "queries-relational": dict(
        kind="queries", sf=0.01, docs=100, vecs=100, tables=TPCH, min_units=1,
        queries=["q1_agg", "q3_join_agg", "q30_cube", "q43_percentiles_approx",
                 "q125_event_funnel"]),
    "stream-curation": dict(
        kind="curation", sf=0.001, docs=5000, vecs=500, batch_docs=100,
        warm_batches=1, max_segments=2, min_units=1),
    "stream-leads": dict(
        kind="leads", sf=0.001, docs=500, vecs=500, replicas=16,
        store_rows=5000, warm_batches=1, min_units=1),
}

MODULES = ["operators." + m for m in (
    "Dedup", "Similarity", "Contamination", "Checkpoints", "Graphs",
    "Retrieval", "TextAnalysis", "Compaction", "Tombstones", "MergeUpsert")] + [
    "streaming." + m for m in (
        "StreamingContentDedup", "StreamingVectorIndex",
        "StreamingPostingsIndex", "StreamingCardStats", "StreamingPipeline")]
FUNCTIONS = ["Hash64Array", "MinHashSig", "ShingleHash3", "SimHashBits",
             "NgramHashes", "BpeTokenCount", "MultiPatternCounts",
             "DotProduct", "ParseMoney"]
CHAIN = ["admit_s", "card_s", "index_s", "postings_s", "maintain_s"]
SUMMED = ["jobs", "stages", "tasks", "idle_s", "task_s", "gc_s", "input_mb",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def heap_gb():
    """MemTotal/2, clamped to 2-8 GB (the rule the tier-1 tests use)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cpus():
    return len(os.sched_getaffinity(0))


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def run_jvm(classes, run_dir, args, deadline):
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:+UseG1GC", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}",
           "-cp", f"{classes}:{build.jar_dir()}/*",
           "perfbench.Main", *[f"{k}={v}" for k, v in args.items()]]
    # SPARK_LOCAL_DIRS, not spark.local.dir: the variable wins over the conf
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness JVM timed out")
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log = f.read()
        at = log.find("Exception in thread")
        sys.stderr.write(log[at:at + 4000] if at >= 0 else log[-4000:])
        raise RuntimeError(f"harness JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_failures(res, inputs, run_dir):
    """Query name -> reason, for each warm-up result the DuckDB oracle
    rejects (the compare of dev/verify_sim.py)."""
    import duckdb
    sys.path.insert(0, "dev")
    from verify_sim import canon
    con = duckdb.connect()
    for t in TPCH + TEXT:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad = {}
    for name, sql in res.get("oracle", {}).items():
        path = os.path.join(run_dir, "results", name)
        if not os.path.isdir(path):
            continue  # no warm-up result: its failure is already listed
        try:
            got = canon(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())
            exp = canon(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001
            bad[name] = f"oracle error: {e}"[:200]
            continue
        if list(got.columns) != list(exp.columns):
            bad[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[name] = f"rows {len(got)} != {len(exp)}"
        elif not got.astype(str).equals(exp.astype(str)):
            bad[name] = "value mismatch"
    return bad


def report_failures(res):
    """Batch unit -> reason, for each leads batch whose pushed report is
    not q27's golden report under the batch's replica rewrite."""
    import duckdb
    golden = duckdb.sql(res["oracle"]["q27_pipeline_report"]).fetchall()
    src = 13  # source_url, the only report column the rewrite touches
    bad = {}
    for rep in res["reports"]:
        got = sorted(tuple("" if v is None else str(v) for v in row)
                     for p in rep["payloads"] for row in json.loads(p)["values"])
        exp = sorted(tuple("" if v is None else
                           (f"{v}-r{rep['replica']}" if i == src else str(v))
                           for i, v in enumerate(row)) for row in golden)
        if got != exp:
            bad[rep["unit"]] = f"report of replica {rep['replica']} != golden"
    return bad


def failures(cfg, res, ops, inputs, run_dir):
    """Every failure by name, and the number of failed operations: those
    that threw or differ from the checked result. A failed set-up or
    artifact check fails every operation of the run."""
    bad = {f"{o['name']}/{o['unit']}": o["err"] or "result differs from the warm-up result"
           for o in ops if not o["ok"]}
    if cfg["kind"] == "queries":
        for q, why in oracle_failures(res, inputs, run_dir).items():
            bad.update({f"{q}/{o['unit']}": why for o in ops if o["name"] == q})
            bad.setdefault(f"{q}/warm-up", why)
    if cfg["kind"] == "leads":
        for unit, why in report_failures(res).items():
            bad[f"batch/{unit}"] = why
    checks = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
    bad.update(checks)
    failed = len(ops) if checks else len({f"{o['name']}/{o['unit']}" for o in ops} & set(bad))
    return bad, failed


def end_to_end(cfg, res, ops, setup_s, table_rows):
    walls = [o["wall_s"] for o in ops]
    if cfg["kind"] == "queries":
        passes = {}
        per_query = {}
        for o in ops:
            passes[o["unit"]] = passes.get(o["unit"], 0.0) + o["wall_s"]
            per_query.setdefault(o["name"], []).append(o["wall_s"])
        wall = statistics.median(passes.values())
        qgeo = geomean([statistics.median(v) for v in per_query.values()])
        rows_per_s = sum(table_rows[t] for t in cfg["tables"]) / wall
    else:
        wall = sum(walls[:cfg["min_units"]])
        qgeo = geomean(walls)
        rows_per_s = sum(o["rows"] for o in ops) / sum(walls)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "query_geomean_s": (qgeo, "s"),
        "batch_p50_s": (statistics.median(walls), "s"),
        "rows_per_s": (rows_per_s, "1/s"),
    }


def per_layer(cfg, res, ops, ledger, failed):
    units = len({o["unit"] for o in ops})  # query passes, or batches
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    def total(key, sub=None):
        return sum((r[sub].get(key, 0.0) if sub else r[key]) for r in ledger) / units

    put("queries.compose_s", total("compose_s", "spans"), "s")
    put("catalyst.analyze_s", total("analyze_s"), "s")
    put("catalyst.optimize_s", total("optimize_s"), "s")
    put("catalyst.plan_s", total("plan_s"), "s")
    put("catalyst.exchanges", total("exchanges"), "count")
    put("catalyst.scans", total("scans"), "count")
    for k in SUMMED:
        put(f"spark.{k}", total(k), "count" if k in ("jobs", "stages", "tasks")
            else ("s" if k.endswith("_s") else "MB"))
    for mod in MODULES:
        put(f"{mod}.jobs", total(mod, "module_jobs"), "count")
        put(f"{mod}.task_s", total(mod, "module_task_s"), "s")
    for fn in FUNCTIONS:
        put(f"functions.{fn}.rows_per_s", res["functions"][fn], "1/s")
    streaming = cfg["kind"] != "queries"
    for k in CHAIN:
        put(f"chain.{k}", total(k, "spans") if streaming else 0.0, "s")
    last = ledger[-1]["extra"] if ledger else {}
    put("chain.admit_ratio", total("admit_ratio", "extra") if streaming else 0.0, "ratio")
    put("chain.segments", last.get("segments", 0.0), "count")
    put("chain.disk_mb", last.get("disk_mb", 0.0), "MB")
    put("leads.process_s", statistics.mean(o["wall_s"] for o in ops)
        if cfg["kind"] == "leads" else 0.0, "s")
    put("leads.store_rows", last.get("store_rows", 0.0), "count")
    put("leads.store_mb", last.get("store_mb", 0.0), "MB")
    put("jvm.gc_s", res["gc_s"], "s")
    put("jvm.cpu_s", res["cpu_s"] / units, "s")
    put("jvm.heap_used_mb", res["heap_used_mb"], "MB")
    put("peak_heap_mb", res["peak_heap_mb"], "MB")
    put("batch_tail_s", max(o["wall_s"] for o in ops), "s")
    put("fail_ratio", failed / len(ops), "ratio")
    put("trace.batch_p50_s", statistics.median(o["wall_s"] for o in ops), "s")
    put("host.canary_s", res["canary_s"], "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]
    classes = build.ensure()
    deadline = time.time() + 165  # a run ends within 180 s once built
    run_dir = os.path.abspath(os.path.join(
        build.OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        inputs = os.path.join(run_dir, "inputs")
        table_rows = gen.write(inputs, a.seed, cfg["sf"], cfg["docs"], cfg["vecs"])
        args = {"workload": cfg["kind"], "inputs": inputs, "run": run_dir,
                "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "cpus": cpus(), "fn_rows": 20000}
        args.update({k: (",".join(v) if isinstance(v, list) else v)
                     for k, v in cfg.items()
                     if k not in ("kind", "sf", "docs", "vecs", "tables")})
        res = run_jvm(classes, run_dir, args, deadline)
        setup_s = res["setup_end_ms"] / 1000.0 - t0
        ops = res["ops"]
        bad, failed = failures(cfg, res, ops, inputs, run_dir)
        if a.trace:
            ledger = res["ledger"]
            os.makedirs(os.path.join(build.OUT, "ledger"), exist_ok=True)
            with open(os.path.join(build.OUT, "ledger", f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "cpus": cpus(),
                           "heap_gb": heap_gb(), "canary_s": res["canary_s"],
                           "ops": ledger}, f, indent=1)
            metrics = per_layer(cfg, res, ops, ledger, failed)
        else:
            metrics = end_to_end(cfg, res, ops, setup_s, table_rows)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: workload={a.workload} seed={a.seed} cpus={cpus()} "
          f"heap={heap_gb()}g canary_s={res['canary_s']:.4f} "
          f"window_s={res['window_s']:.2f} attempted={len(ops)} failed={failed} "
          f"fail_ratio={failed / len(ops):.4f}")
    for name, why in sorted(bad.items()):
        print(f"perfbench: FAILED {name}: {why}")
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["wall_s"])
    for name, ws in per_op.items():
        print(f"perfbench: op {name}: " + " ".join(f"{w:.3f}" for w in ws) + " s")
    for name, (v, unit) in metrics.items():
        print(f"perfbench: {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not bad, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001
        sys.stderr.write(f"perfbench: {type(e).__name__}: {e}\n")
        sys.exit(1)
