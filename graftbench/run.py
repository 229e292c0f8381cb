#!/usr/bin/env python3
"""graft benchmark: one command, one JVM, one workload per run.

    python3 graftbench/run.py --workload <bulk_encode|store_read|driver_queries> \
        --seed <n> --seconds <s> --trace <0|1> [--corrupt 1]

Run from the repository root. The first run builds the engine from
src/main together with the harness in graftbench/ (sbt, offline) into
graftbench/target; later runs reuse the build until a source changes.
Scratch data lives under $CARGO_TARGET_DIR (default .bench_build).

The JVM (graftbench.Main) records raw samples; this script checks the
driver_queries outputs against the DuckDB oracle, turns the samples into
metrics, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones; the full per-layer
record is also written as one JSON file (path on the report line).
--corrupt 1 (store_read only) reads a copy of the store with one block
byte flipped: the negative check that the output gates catch corruption.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TESTDATA = os.path.join(HERE, "testdata", "sf0.001")
WORKLOADS = ("bulk_encode", "store_read", "driver_queries")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
# the rows-only q_encode_metrics has no oracle; it is checked by row
# count: one row per documents column
DOC_COLS = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME to a Spark install")
    return home


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(d if os.path.isabs(d) else os.path.join(ROOT, d))


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(top):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    stamp_file = os.path.join(bdir, "build.stamp")
    stamp = source_stamp()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building engine + harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "Compile/products"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    # the DuckDB answers take about a minute: compute them here, in the
    # build, so no timed run pays for them
    sql_file = os.path.join(bdir, "oracle_sql.json")
    if subprocess.run(["java", "-cp", classpath(classes), "graftbench.OracleSqlDump", sql_file],
                      cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        fail("could not write the oracle SQL")
    with open(sql_file) as fh:
        oracle_answers(bdir, json.load(fh))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_home()}/jars/*"


def run_jvm(classes, bdir, args):
    work = os.path.join(bdir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "samples.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms1g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", classpath(classes),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--testdata", TESTDATA, "--out", out,
            "--corrupt", "1" if args.corrupt else "0"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as fh:
        return json.load(fh), work


# ---- driver_queries: DuckDB oracle ------------------------------------

def canonical(df):
    """crosscheck semantics: columns sorted by name, rows sorted, values as str"""
    cols = sorted(df.columns)
    d = df[cols].sort_values(cols).reset_index(drop=True)
    return {"cols": cols, "rows": len(d), "values": [d[c].astype(str).tolist() for c in cols]}


def oracle_answers(bdir, sql):
    import duckdb
    h = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    h.update(duckdb.__version__.encode())
    for f in sorted(glob.glob(os.path.join(TESTDATA, "*.parquet"))):
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cache = os.path.join(bdir, "oracle", h.hexdigest() + ".json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    log("computing DuckDB oracle answers (cached for later runs)")
    con = duckdb.connect()
    for t in glob.glob(os.path.join(TESTDATA, "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    answers = {k: canonical(con.execute(q).fetch_df()) for k, q in sql.items()}
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(answers, fh)
    os.replace(cache + ".tmp", cache)
    return answers


def check_queries(samples, work, bdir):
    """marks query ops whose output disagrees with the oracle as failed"""
    import duckdb
    base = os.path.join(work, "driver_queries")
    with open(os.path.join(base, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    answers = oracle_answers(bdir, sql)
    con = duckdb.connect()
    ratios = []
    for op in samples["ops"]:
        if not op["kind"].startswith("query:") or not op["ok"]:
            continue
        name = op["kind"].split(":", 1)[1]
        out = os.path.join(base, "out", f"{op['phase']}-{op['round']}", name)
        err = None
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").fetch_df()
            if name in answers:
                want, have = answers[name], canonical(got)
                if have["cols"] != want["cols"]:
                    err = f"columns {have['cols']} != {want['cols']}"
                elif have["rows"] != want["rows"]:
                    err = f"{have['rows']} rows != {want['rows']}"
                elif have["values"] != want["values"]:
                    err = "values differ from the DuckDB oracle"
            elif name == "q_encode_metrics":
                if len(got) != DOC_COLS:
                    err = f"{len(got)} rows != {DOC_COLS}"
                elif op["phase"] in ("timed", "untraced"):
                    ratios.append(got["raw_bytes"].sum() / got["encoded_bytes"].sum())
            else:
                err = "no oracle and no row-count rule for this query"
        except Exception as e:  # an unreadable output is a wrong output
            err = f"{type(e).__name__}: {str(e)[:300]}"
        if err:
            log(f"{op['phase']} {name} FAILED: {err}")
            op["ok"] = False
            op["err"] = err
            op.pop("ms", None)
            samples["failed"] += 1
    if ratios:
        samples["info"]["query_compression_ratio"] = median(ratios)


# ---- metrics ---------------------------------------------------------

def pct(xs, p):
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def ok_ops(samples, phase, pred):
    return [o for o in samples["ops"] if o["phase"] == phase and o["ok"] and pred(o["kind"])]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def ratio(a, b):
    return a / b if b else float("nan")


def pass_totals(ops, kinds_per_pass, key="ms"):
    """seconds of `key` (ms per op) per round, over rounds whose ops all
    succeeded"""
    by_round = {}
    for o in ops:
        by_round.setdefault(o["round"], []).append(o[key])
    return [sum(v) / 1e3 for v in by_round.values() if len(v) == kinds_per_pass]


def end_to_end(w, samples):
    info = samples["info"]
    is_lookup = lambda k: k.startswith("lookup_")
    is_scan = lambda k: k.startswith("scan_")
    m, report = {}, {}
    m["setup_s"] = (median(samples["setup_s"]), "s")
    m["retained_heap_mb"] = (info["retained_heap_mb"], "MB")
    if w == "bulk_encode":
        ops = ok_ops(samples, "timed", lambda k: k == "encode")
        per_op, pass_ops, per_pass = ops, ops, 1
        compression = ratio(info["raw_bytes"], info["store_bytes"])
        report["encode_gbps"] = (median([o["bytes"] / o["ms"] / 1e6 for o in ops]), "GB/s")
        report["parquet_snappy_bytes"] = (info["parquet_snappy_bytes"], "bytes")
        report["avro_deflate_bytes"] = (info["avro_deflate_bytes"], "bytes")
    elif w == "store_read":
        per_op = ok_ops(samples, "timed", is_lookup)
        pass_ops, per_pass = ok_ops(samples, "timed", is_scan), 3
        lat = [o["ms"] for o in per_op]
        compression = ratio(info["raw_bytes"], info["store_bytes"])
        bulk = [o for o in pass_ops if o["bytes"] > 0]
        report["scan_gbps"] = (ratio(sum(o["bytes"] for o in bulk), sum(o["ms"] for o in bulk) * 1e6), "GB/s")
        report["lookup_p50_ms"] = (pct(lat, 0.5), "ms")
        report["lookup_p95_ms"] = (pct(lat, 0.95), "ms")
        report["lookups"] = (len(lat), "count")
        report["store_mb"] = (info["store_bytes"] / 1e6, "MB")
    else:
        per_op = pass_ops = ok_ops(samples, "timed", lambda k: k.startswith("query:"))
        per_pass = len({o["kind"] for o in samples["ops"] if o["kind"].startswith("query:")})
        compression = info.get("query_compression_ratio", float("nan"))
    m["pass_cpu_s"] = (median(pass_totals(pass_ops, per_pass, "cpu_ms")), "s")
    m["compression_ratio"] = (compression, "x")
    report["query_suite_s" if w == "driver_queries" else "pass_s"] = (
        median(pass_totals(pass_ops, per_pass)), "s")
    report["op_p50_ms"] = (pct([o["ms"] for o in per_op], 0.5), "ms")
    report["ops_timed"] = (len(per_op), "count")
    report.update(m)
    report["error_rate"] = (ratio(samples["failed"], samples["attempted"]), "fraction")
    return m, report


def per_layer(w, samples):
    tr = samples["trace"]
    layer = {k: (v["value"], v["unit"]) for k, v in tr["values"].items()}
    for k, v in tr.get("spark", {}).items():
        layer[f"spark.{k}"] = (v, "count" if k == "stages" else "MB" if k.endswith("_mb") else "s")
    spans = {k: median(v) for k, v in tr["spans"].items()}
    nan = float("nan")
    # same kinds, both sides succeeded: traced wall over untraced wall
    walls = {}
    for o in samples["ops"]:
        if o["ok"] and o["phase"] in ("traced", "untraced"):
            walls.setdefault((o["kind"], o["round"]), {})[o["phase"]] = o["ms"]
    pairs = [v for v in walls.values() if len(v) == 2]
    layer["trace_overhead"] = (ratio(sum(p["traced"] for p in pairs), sum(p["untraced"] for p in pairs)), "x")
    if w == "bulk_encode":
        total = spans.get("encode.resumable_s", nan)
        layer["encode.resumable_s"] = (total, "s")
        layer["encode.write_commit_s"] = (
            total - layer["encode.partition_s"][0] - layer["encode.drain_codec_s"][0], "s")
    elif w == "store_read":
        for k in ("scan.full_s", "scan.content_s", "scan.meta_s"):
            layer[k] = (spans.get(k, nan), "s")
        layer["lookup.plan_ms"] = (spans.get("lookup.plan_s", nan) * 1e3, "ms")
        layer["lookup.exec_ms"] = (spans.get("lookup.exec_s", nan) * 1e3, "ms")
        scan_gbps = ratio(samples["info"]["raw_bytes"], spans.get("scan.full_s", nan) * 1e9)
        layer["scan.decode_efficiency"] = (ratio(scan_gbps, layer["scan.decode_probe_gbps"][0]), "ratio")
    else:
        for k, v in spans.items():
            layer[k] = (v, "s")
    return layer


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.corrupt and args.workload != "store_read":
        fail("--corrupt applies to store_read only")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes = build(bdir)
    samples, work = run_jvm(classes, bdir, args)
    if args.workload == "driver_queries":
        check_queries(samples, work, bdir)

    failed, attempted = samples["failed"], samples["attempted"]
    if args.trace:
        layer = per_layer(args.workload, samples)
        trace_file = os.path.join(bdir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())}, fh, indent=1)
        print(f"per-layer record: {trace_file}")
        for k, (v, u) in sorted(layer.items()):
            print(f"  {k} = {v:.6g} {u}")
        metrics = layer
    else:
        metrics, report = end_to_end(args.workload, samples)
        print(f"{args.workload} seed={args.seed}: " + ", ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in report.items()))
    if args.corrupt:
        print(f"corrupt-store check: {failed} of {attempted} ops failed"
              + (" (gate bites)" if failed else " (GATE DID NOT BITE)"))
    # the metrics BENCHMARK.json lists for this kind of run; one a failed
    # run could not measure is left out, never guessed
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    metrics = {k: metrics[k] for k in listed if k in metrics and metrics[k][0] == metrics[k][0]}
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    if args.corrupt and failed == 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
