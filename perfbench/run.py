#!/usr/bin/env python3
"""perfbench: the connector benchmark of record.

Run one workload from the root of a checkout:

    python3 perfbench/run.py --workload mem --seed 1 --seconds 10 --trace 0

The first run builds the program from source (sbt, offline) into
perfbench/target and .bench_build/. Each run starts one JVM with one
client thread and Spark local[n], n <= nproc; it sets up the seeded
server, runs three untimed warm-up rounds, then whole rounds until
--seconds have passed. Outputs are checked with DuckDB after the JVM
exits. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the spans to .bench_build/runs/<workload>-trace1/spans.json).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
DEFAULT_SEED = 20261018
WORKLOADS = ("mem", "wire")
ROUNDS = 200           # generated rounds; a run uses as many as fit
LOOKUPS = 24           # key lookups per round
TPCH_QUERIES = 6       # queries per TPC-H pass (Main.TpchQueries)
JVM_DEADLINE_S = 165   # a run must end within 180 s once built

sys.path.insert(0, HERE)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars_dir():
    """The Spark jar directory the root build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        fail(f"Spark jars not found at {d}")
    return d


def source_digest():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if (os.path.exists(stamp) and os.path.exists(cp_file)
            and open(stamp).read() == digest):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Xmx1536m -Dsbt.server.forcestart=false")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.sparkJars={spark_jars_dir()}",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if "scala-library" in l and "[" not in l]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the runtime classpath from sbt")
    cp = lines[-1].strip()
    make_tls_material()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def make_tls_material():
    """Self-signed loopback identity for the TLS wire server."""
    d = os.path.join(BUILD, "tls")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    ks, pem = os.path.join(d, "ks.p12"), os.path.join(d, "root.pem")
    keytool = os.path.join(os.environ["JAVA_HOME"], "bin", "keytool") \
        if os.environ.get("JAVA_HOME") else "keytool"
    common = ["-alias", "perfbench", "-keystore", ks, "-storetype", "PKCS12",
              "-storepass", "perfbench-tls"]
    subprocess.run([keytool, "-genkeypair", "-keyalg", "RSA", "-keysize", "2048",
                    "-validity", "3650", "-dname", "CN=127.0.0.1",
                    "-ext", "SAN=IP:127.0.0.1,DNS:localhost"] + common,
                   check=True, capture_output=True)
    subprocess.run([keytool, "-exportcert", "-rfc", "-file", pem] + common,
                   check=True, capture_output=True)


# ----------------------------------------------------------------- inputs

def key_domain(con, table, key):
    return [r[0] for r in con.execute(f"SELECT {key} FROM {table} ORDER BY 1").fetchall()]


def make_inputs(workload, seed, data_dir):
    """Every generated input of a run, from the seed: scan predicates and
    column subsets, lookup keys, load subsets and DML predicates. In the
    mem workload one round is drawn and repeated, so each scan statement
    recurs every round; in the wire workload every round is drawn fresh,
    so no scan statement repeats."""
    import check
    con = check.connect(data_dir)
    rng = random.Random(seed)
    cols = {t: list(check.column_types(con, t)) for t in ("lineitem", "orders")}
    keys = {"lineitem": "l_orderkey", "orders": "o_orderkey",
            "customer": "c_custkey"}
    dom = {t: key_domain(con, t, keys[t]) for t in ("orders", "customer")}
    lo_k, hi_k = dom["orders"][0], dom["orders"][-1]
    span = hi_k - lo_k

    def key_range(frac):
        """A key range covering `frac` of the key span at a random place;
        the width is fixed so that every seed moves about as many rows."""
        lo = lo_k + int(rng.random() * (1 - frac) * span)
        return lo, lo + int(frac * span)

    def draw():
        scans = []
        vias = ["mem"] * 8 if workload == "mem" else ["tcp", "tcp", "tls", "tls"] * 2
        for table, via in zip(["lineitem", "orders"] * 4, vias):
            others = cols[table][1:]
            picked = set(rng.sample(others, len(others) // 2))
            lo, hi = key_range(0.6)
            scans.append({"table": table, "key": keys[table], "via": via,
                          "cols": [keys[table]] + [c for c in others if c in picked],
                          "lo": lo, "hi": hi})
        lookups = []
        for i in range(LOOKUPS):
            table = "customer" if i % 2 == 0 else "orders"
            lookups.append({"table": table, "key": keys[table],
                            "via": "mem" if workload == "mem" else "tcp",
                            "k": rng.choice(dom[table])})
        loads = []
        for table, frac in (("orders", 0.4), ("lineitem", 0.2)) * 3:
            lo, hi = key_range(frac)
            loads.append({"table": table, "key": keys[table], "lo": lo, "hi": hi})
        mod = rng.randint(3, 7)
        dml = {"delete_below": round(rng.uniform(-500, 1500), 2) + 0.005,
               "update_mod": mod, "update_rem": rng.randint(0, mod - 1),
               "merge_mod": rng.randint(5, 11), "merge_new": rng.randint(10, 200)}
        return {"scans": scans, "lookups": lookups, "loads": loads, "dml": dml}

    if workload == "mem":
        one = draw()
        return {"rounds": [one] * ROUNDS}
    return {"rounds": [draw() for _ in range(ROUNDS)]}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def timed(ops, warmup):
    """Operations of the timed rounds (curation ops carry their own numbering)."""
    return [o for o in ops if o["round"] >= warmup and o["phase"] != "curation"]


def pass_time(ops, phase, names):
    """Time of one pass over a phase's operations: the sum, over the
    operations, of each one's median time across the timed rounds. A
    short stall then inflates one sample of one operation, not a pass."""
    times = {}
    for o in ops:
        if o["phase"] == phase and o["ok"]:
            times.setdefault(o["name"], []).append(o["s"])
    if len(times) < names:
        return None
    return sum(median(v) for v in times.values())


def rate(ops, phase):
    """Rows per second of one pass over a phase's operations: the sum,
    over the operations, of each one's median row count across the timed
    rounds, divided by the sum of their median times (see pass_time)."""
    rows, times = {}, {}
    for o in ops:
        if o["phase"] == phase and o["ok"]:
            rows.setdefault(o["name"], []).append(o["count"])
            times.setdefault(o["name"], []).append(o["s"])
    secs = sum(median(v) for v in times.values())
    return sum(median(v) for v in rows.values()) / secs if secs > 0 else None


def end_to_end(result):
    ops = timed(result["ops"], result["warmup_rounds"])
    lookups_ms = [1000 * o["s"] for o in ops if o["phase"] == "lookup" and o["ok"]]
    return {
        "setup_s": (result["session_s"] + median(result["setup_reps_s"]), "s"),
        "retained_heap_mb": (result["retained_heap_mb"], "MB"),
        "tpch_pass_s": (pass_time(ops, "tpch", TPCH_QUERIES), "s"),
        "scan_rows_per_s": (rate(ops, "scan"), "rows/s"),
        "lookup_p50_ms": (median(lookups_ms), "ms"),
        "load_rows_per_s": (rate(ops, "load"), "rows/s"),
        "dml_round_s": (pass_time(ops, "dml", 3), "s"),
    }


LAYER_UNITS = {
    "meta.connect_ms": "ms", "meta.connect_tls_ms": "ms",
    "meta.connections_opened": "count", "meta.pool_reuse_ratio": "ratio",
    "meta.copy_out_mb": "MB", "meta.serve_mb_per_s": "MB/s",
    "meta.cached_serve_mb_per_s": "MB/s", "meta.next_pass_serve_mb_per_s": "MB/s",
    "meta.wire_mb_per_s": "MB/s",
    "meta.repeat_statement_share": "ratio", "meta.copy_in_mb_per_s": "MB/s",
    "codec.decode_rows_per_s": "rows/s", "codec.encode_rows_per_s": "rows/s",
    "sources.columnar_decode_rows_per_s": "rows/s", "sources.plan_ms": "ms",
    "sources.partitions": "count", "sources.rows_shipped": "count",
    "sources.delete_ms": "ms", "sources.update_ms": "ms", "sources.merge_ms": "ms",
    "catalog.load_table_cold_ms": "ms", "catalog.load_table_warm_ms": "ms",
    "spark.parquet_pass_s": "s", "spark.connector_tax_s": "s",
    "spark.task_cpu_s": "s", "spark.shuffle_mb": "MB", "spark.codegen_compiles": "count",
    "operators.p22_cross_dedup_s": "s", "operators.p08_lsh_pairs_s": "s",
    "operators.p26_ngram_dup_rate_s": "s", "operators.p52_cdc_chunks_s": "s",
    "operators.p38_bpe_tokenize_s": "s", "operators.s09_ann_ivfadc_s": "s",
    "streaming.st06_pg_stream_dedup_s": "s",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "jvm.codeheap_peak_mb": "MB",
}


def per_layer(result, e2e):
    layers = dict(result["layers"])
    tpch = e2e["tpch_pass_s"][0]
    parquet = layers.get("spark.parquet_pass_s")
    layers["spark.connector_tax_s"] = (tpch - parquet) if tpch and parquet else None
    return {k: (layers.get(k), u) for k, u in LAYER_UNITS.items()}


def span_summary(run_dir):
    """Total and self time per span name (self = span minus children)."""
    path = os.path.join(run_dir, "spans.json")
    if not os.path.exists(path):
        return
    spans = json.load(open(path))
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_us"] - s["start_us"]
    out = {}
    for s in spans:
        d = s["end_us"] - s["start_us"]
        a = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        a["count"] += 1
        a["total_s"] += d / 1e6
        a["self_s"] += (d - child.get(s["id"], 0)) / 1e6
    with open(os.path.join(run_dir, "span_summary.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


# -------------------------------------------------------------------- run

def jvm_options(run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = []
    for p in opens:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the program's shipped JVM defaults (root build.sbt), with a heap
    # sized for sf0.01 on a shared machine
    return opts + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
                   f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp]


def cpu_times():
    """(steal, total) jiffies of the whole machine, where the OS reports them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def health_record(result, load_start, load_end, walls):
    h = dict(result["health"])
    h.update({"nproc": os.cpu_count(), "loadavg_start": load_start,
              "loadavg_end": load_end, "timed_rounds": result["timed_rounds"],
              "window_s": result["window_s"]})
    h.update(walls)
    return h


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 data, every check on (for the benchmark's tests)")
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
             "run from the root of a full checkout")
    t_start = time.time()
    cp = build()

    data_dir = os.path.join(HERE, "data", "sf0.001" if a.smoke else "sf0.01")
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs_path = os.path.join(run_dir, "inputs.json")
    with open(inputs_path, "w") as f:
        json.dump(make_inputs(a.workload, a.seed, data_dir), f)

    cpus = str(max(1, min(2, (os.cpu_count() or 2) // 2)))
    load_start = os.getloadavg()[0]
    cpu_start = cpu_times()
    cmd = (["java"] + jvm_options(run_dir) + ["-cp", cp, "perfbench.Main",
           a.workload, str(a.seconds), str(a.trace), data_dir, run_dir,
           inputs_path, os.path.join(BUILD, "tls"), cpus])
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {JVM_DEADLINE_S} s (log: {run_dir}/jvm.log)")
    load_end = os.getloadavg()[0]
    jvm_wall_s = time.time() - t_jvm
    cpu_end = cpu_times()
    steal = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        # share of CPU time the hypervisor gave to others while the JVM ran
        steal = (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1])
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"JVM exited with {code}")
    result = json.load(open(result_path))

    import check
    t_check = time.time()
    failures = check.check_run(data_dir, run_dir, result)
    check_s = time.time() - t_check
    for f in failures[:20]:
        print(f"CHECK FAIL {f}", file=sys.stderr)
    ops = [o for o in result["ops"] if o["phase"] != "dml_state"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed[:20]:
        print(f"OP FAIL {o['phase']} {o['name']} round {o['round']}: {o['error']}",
              file=sys.stderr)

    e2e = end_to_end(result)
    metrics = per_layer(result, e2e) if a.trace else e2e
    if a.trace:
        span_summary(run_dir)
    shutil.rmtree(os.path.join(run_dir, "results"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    walls = {"build_s": t_jvm - t_start, "jvm_wall_s": jvm_wall_s, "check_s": check_s,
             "cpu_steal_share": steal}
    print("health: " + json.dumps(health_record(result, load_start, load_end, walls)))
    print("ops: " + json.dumps({"workload": a.workload, "seed": a.seed,
                                "attempted": len(ops), "failed": len(failed),
                                "check_failures": len(failures)}))
    if a.trace:
        # the end-to-end values of the traced run, for the tracing overhead
        print("traced end_to_end: " + json.dumps({k: v for k, (v, _) in e2e.items()}))
    missing = [k for k, (v, _) in metrics.items() if v is None]
    print(json.dumps({
        "correct": not failures and not missing,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v if v is not None else 0.0, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
