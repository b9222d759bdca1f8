#!/usr/bin/env python3
"""clickhub benchmark: an ingest workload and a query mix, end to end and
per layer.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 7 --trace 0

Workloads: ingest, query_mix (see perfbench/README.md); `--workload all`
runs each of them untraced and then traced.  The first run in a checkout
builds the engine and the benchmark with sbt into `target/` directories
and `.bench_build/`; later runs reuse the build while the sources are
unchanged.

Each run starts one JVM with one closed-loop client, checks every answer
outside the engine, prints a report, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer ones;
a traced run also writes its spans to `.bench_build/traces/` and reports
the tracing overhead against the last untraced run of the workload.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest", "query_mix"]
RUN_LIMIT_S = 170          # a run must end within 180 s
JVM_HEAP = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# Per workload, the operation kinds behind the end-to-end latencies:
#   main: the workload's defining operations;  read: its reads.
ROLES = {
    "ingest": {"main": {"import", "refresh", "insert"}, "read": {"gitq"}},
    "query_mix": {"main": {"query:op"}, "read": {"query:sql"}},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "project/*.scala",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/main/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine and benchmark with sbt; returns the runtime classpath."""
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the repository")
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed, see {log}")
    # class directories go into jars: the JVM's class-data-sharing
    # archive (see run_jvm) accepts jars only
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    entries = []
    for n, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(jars, f"classes{n}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, files in sorted(os.walk(e)):
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------ answer checks

def _render(v):
    import pandas as pd
    try:
        if v is None or pd.isna(v):
            return "\0NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon_rows(df):
    """Columns sorted by name, rows by value, every cell rendered: the
    render and hash rules of the driver-contract oracle compare."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    rows = ["\x1f".join(_render(v) for v in row)
            for row in df.itertuples(index=False, name=None)]
    return list(df.columns), hashlib.sha256("\x1e".join(rows).encode(
        "utf-8", "surrogatepass")).hexdigest(), len(rows)


def oracle_check(answers, data_dir, res_dir):
    """DuckDB runs each answered query's oracle twin on the same parquet;
    returns {op index: error} for every answer that differs."""
    import duckdb
    import pandas as pd
    from gen_star import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    wrong = {}
    for a in answers:
        i, name, sql = a["i"], a["name"], a["sql"]
        try:
            files = sorted(glob.glob(os.path.join(res_dir, str(i), "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            want = con.execute(sql).fetchdf()
            g, w = _canon_rows(got), _canon_rows(want)
            if g != w:
                what = ("columns" if g[0] != w[0] else "row count" if g[2] != w[2]
                        else "rendered rows")
                wrong[i] = f"{name}: {what} differ from the DuckDB oracle"
        except Exception as e:  # an answer that cannot be compared is wrong
            wrong[i] = f"{name}: oracle compare failed: {type(e).__name__}: {e}"[:300]
    return wrong


# ------------------------------------------------------------------ metrics

def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    # a p90 needs at least ten samples beyond it
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 100 else None


def op_kind(op):
    if op["kind"] == "query":
        return "query:sql" if op["name"].startswith("sql_") else "query:op"
    return op["kind"]


def end_to_end(workload, res):
    ok = [o for o in res["ops"] if o["ok"]]
    per_round = res["round_size"]
    rounds = [res["ops"][i:i + per_round] for i in range(0, len(res["ops"]), per_round)]
    m = {"setup_s": (res["setup_s"], "s", 1),
         "round_s": (median([sum(o["s"] for o in r) for r in rounds]), "s", len(rounds))}
    for role, kinds in ROLES[workload].items():
        xs = [o["s"] for o in ok if op_kind(o) in kinds]
        m[f"{role}_p50_s"] = (median(xs), "s", len(xs))
    return m


def named_end_to_end(workload, res):
    """The workload's own metrics, by operation kind."""
    ops = [o for o in res["ops"] if o["ok"]]
    fig = res["figures"]

    def p50(kind):
        xs = [o["s"] for o in ops if op_kind(o) == kind or o["kind"] == kind]
        return median(xs), "s", len(xs)

    def rate(kind, per_op):
        xs = [o["s"] for o in ops if o["kind"] == kind]
        return (per_op * len(xs) / sum(xs) if xs else None), len(xs)
    out = {"setup_s": (res["setup_s"], "s", 1),
           "failed_frac": (sum(1 for o in res["ops"] if not o["ok"]) / max(1, len(res["ops"])),
                           "ratio", len(res["ops"]))}
    if workload == "ingest":
        r, n = rate("import", 1)
        out["import_repos_per_s"] = (r, "1/s", n)
        out["import_p50_s"] = p50("import")
        out["refresh_p50_s"] = p50("refresh")
        out["gitq_p50_s"] = p50("gitq")
        out["insert_p50_s"] = p50("insert")
        r, n = rate("insert", fig["batch_rows"])
        out["events_rows_per_s"] = (r, "rows/s", n)
        out["lookup_p50_s"] = p50("lookup")
        out["mutation_p50_s"] = p50("mutation")
        for part in ("git", "events"):
            if fig.get(f"{part}_input_bytes"):
                out[f"{part}.stored_bytes_per_input_byte"] = (
                    fig[f"{part}_stored_bytes"] / fig[f"{part}_input_bytes"], "ratio", 1)
    else:
        qs = [o["s"] for o in ops]
        out["query_p50_s"] = (median(qs), "s", len(qs))
        out["query_p90_s"] = (p90(qs), "s", len(qs))
        out["sql_p50_s"] = p50("query:sql")
    return out


def layer_med(ops, key):
    return median([o["layers"][key] for o in ops if key in o.get("layers", {})])


# Per-layer metrics measured on every workload: the JSON of a traced run.
# Each is the median over the run's operations.
UNIVERSAL_LAYERS = [
    ("jobs", "spark.jobs_per_op", "count"),
    ("stages", "spark.stages_per_op", "count"),
    ("tasks", "spark.tasks_per_op", "count"),
    ("executor_run_s", "spark.executor_run_s", "s"),
    ("executor_cpu_s", "spark.executor_cpu_s", "s"),
    ("process_cpu_s", "jvm.process_cpu_s", "s"),
    ("driver_gap_s", "spark.driver_gap_s", "s"),
    ("shuffle_write_bytes", "spark.shuffle_write_bytes", "bytes"),
    ("analysis_ms", "catalyst.analysis_ms", "ms"),
    ("optimization_ms", "catalyst.optimization_ms", "ms"),
    ("planning_ms", "catalyst.planning_ms", "ms"),
    ("plan_ms", "catalyst.plan_ms", "ms"),
    ("fs_meta_ops", "catalog.fs_meta_ops_per_op", "count"),
    ("scan_files", "catalog.scan_files_per_op", "count"),
]


def per_layer(workload, res):
    ops = [o for o in res["ops"] if o["ok"]]
    return {name: (layer_med(ops, key), unit, len(ops)) for key, name, unit in UNIVERSAL_LAYERS}


def named_layers(workload, res):
    """The workload's own layer metrics, by the names the issue gives them
    (report only: not every workload has every layer)."""
    ops = [o for o in res["ops"] if o["ok"]]
    fig = res["figures"]
    L = {}

    def put(name, v, unit, sample):
        if v is not None:
            L[name] = (v, unit, len(sample))

    def of(*ks):
        return [o for o in ops if o["kind"] in ks]
    put("spark.spill_bytes", layer_med(ops, "spill_bytes"), "bytes", ops)
    if workload == "ingest":
        imp, ref, q = of("import"), of("refresh"), of("gitq")
        put("queue.claim_ms", layer_med(imp + ref, "queue_claim_ms"), "ms", imp + ref)
        put("queue.complete_ms", layer_med(imp + ref, "queue_complete_ms"), "ms", imp + ref)
        put("sources.jobs_per_import", layer_med(imp, "jobs"), "count", imp)
        put("sources.tasks_per_import", layer_med(imp, "tasks"), "count", imp)
        put("sources.rows_per_import", layer_med(imp, "rows"), "count", imp)
        put("sources.rows_per_refresh", layer_med(ref, "rows"), "count", ref)
        put("catalog.fs_meta_ops_per_import", layer_med(imp, "fs_meta_ops"), "count", imp)
        put("catalog.data_files", fig["git_data_files"], "count", [1])
        put("catalog.scan_files_per_gitq", layer_med(q, "scan_files"), "count", q)
        put("sql.build_ms", layer_med(q, "build_ms"), "ms", q)
        put("sql.rewrite_ms", layer_med(q, "sql_rewrite_ms"), "ms", q)
        ins, lk, mu = of("insert"), of("lookup"), of("mutation")
        put("catalog.jobs_per_insert", layer_med(ins, "jobs"), "count", ins)
        put("catalog.fs_meta_ops_per_insert", layer_med(ins, "fs_meta_ops"), "count", ins)
        put("catalog.files_written_per_insert", layer_med(ins, "data_files_written"), "count", ins)
        put("catalog.lookup_files_total", layer_med(lk, "lookup_total"), "count", lk)
        kept = sum(o["layers"].get("lookup_kept", 0) for o in lk)
        total = sum(o["layers"].get("lookup_total", 0) for o in lk)
        put("catalog.lookup_kept_frac", kept / total if total else None, "ratio", lk)
        put("catalog.mutation_files_rewritten", layer_med(mu, "data_files_written"), "count", mu)
        put("catalog.mutation_bytes_written", layer_med(mu, "bytes_written"), "bytes", mu)
        for part in ("git", "events"):
            if fig.get(f"{part}_input_bytes"):
                put(f"catalog.write_amp.{part}",
                    fig[f"{part}_stored_bytes"] / fig[f"{part}_input_bytes"], "ratio", [1])
    if workload == "query_mix":
        sq = [o for o in ops if o["name"].startswith("sql_")]
        oq = [o for o in ops if not o["name"].startswith("sql_")]
        put("sql.build_ms", layer_med(sq, "build_ms"), "ms", sq)
        put("operators.exec_s", median([o["layers"]["execute_ms"] / 1e3 for o in oq]), "s", oq)
    return L


# --------------------------------------------------------------------- run

def run_jvm(cp, workload, args, tmp):
    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp, exist_ok=True)
    # The JVM loads classes from a class-data-sharing archive of this build,
    # which the first run of each workload in a checkout writes at exit:
    # Spark's start-up is mostly class loading from ~300 jars.
    with open(os.path.join(BUILD, "stamp.txt")) as f:
        archive = os.path.join(BUILD, f"cds-{workload}-{f.read()[:16]}.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={java_tmp}", cds, "-Xlog:cds=off",
              "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"the benchmark JVM exited with {rc}")


def run_one(cp, workload, seed, seconds, trace):
    tmp = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--tmp", tmp, "--out", tmp]
        data = os.path.join(tmp, "data")
        clock = {"start": time.time()}
        if workload == "query_mix":
            from gen_star import generate
            generate(data, seed)
            args += ["--data", data]
        clock["generated"] = time.time()
        run_jvm(cp, workload, args, tmp)
        clock["jvm"] = time.time()
        with open(os.path.join(tmp, "result.json")) as f:
            res = json.load(f)
        if trace:
            with open(os.path.join(tmp, "spans.json")) as f:
                res["spans"] = json.load(f)
        if workload == "query_mix":
            wrong = oracle_check(res["answers"], data, os.path.join(tmp, "results"))
            for i, why in wrong.items():
                op = res["ops"][i]
                if op["ok"]:
                    op["ok"], op["error"] = False, why
        clock["checked"] = time.time()
        res["wall"] = {"generate_s": clock["generated"] - clock["start"],
                       "jvm_s": clock["jvm"] - clock["generated"],
                       "oracle_s": clock["checked"] - clock["jvm"]}
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def report(workload, res, trace, metrics):
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    print(f"== {workload}: {len(ops)} ops, {len(failed)} failed, "
          f"{res['cores']} cores, 1 closed-loop client")
    for name, (v, unit, n) in named_end_to_end(workload, res).items():
        print(f"  {name:32s} {v if v is None else round(v, 6)!s:>14} {unit:7s} n={n}")
    print("  wall: " + ", ".join(f"{k} {v:.1f}" for k, v in res["wall"].items()))
    print(f"  spark session ready at {res['spark_ready_s']:.2f} s; warm-up ops: " +
          ", ".join(f"{o['kind']}:{o['name']} {o['s']:.2f}s" for o in res["warmup"]))
    for c in res["checks"]:
        print(f"  check {'ok ' if c['ok'] else 'BAD'} {c['name']}: {c['detail']}")
    for o in failed:
        print(f"  failed {o['kind']}:{o['name']}: {o['error']}")
    if trace:
        for name, (v, unit, n) in sorted({**metrics, **named_layers(workload, res)}.items()):
            print(f"  layer {name:36s} {v if v is None else round(v, 6)!s:>14} {unit:6s} n={n}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    cp = build()
    if a.workload == "all":
        for w in WORKLOADS:
            for t in (0, 1):
                subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(t)], check=True)
        return
    res = run_one(cp, a.workload, a.seed, a.seconds, a.trace == 1)
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    last = os.path.join(BUILD, f"last_untraced_{a.workload}.json")
    if a.trace:
        metrics = per_layer(a.workload, res)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        spans_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(spans_out, "w") as f:
            json.dump(res["spans"], f)
        report(a.workload, res, True, metrics)
        print(f"  spans: {len(res['spans'])} written to {os.path.relpath(spans_out, ROOT)}")
        traced = named_end_to_end(a.workload, res)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            for k, (v, unit, _) in traced.items():
                if v is not None and base.get(k) is not None and k != "failed_frac":
                    print(f"  tracing overhead {k:28s} {v - base[k]:+.6f} {unit}")
        else:
            print("  tracing overhead: no untraced run of this workload yet")
    else:
        metrics = end_to_end(a.workload, res)
        report(a.workload, res, False, metrics)
        os.makedirs(BUILD, exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _, _) in named_end_to_end(a.workload, res).items()}, f)
    missing = [k for k, (v, _, _) in metrics.items() if v is None]
    if missing:
        fail(f"no samples for {', '.join(missing)}: run longer")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
