#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark JVM from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run writes its seeded
inputs as parquet under .bench_build/perfbench/, runs the benchmark JVM
(graft.perfbench.Main) on one local Spark session, checks every
operation's output, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) listed in BENCHMARK.json. Everything it writes stays under
.bench_build/ in the checkout, and it exits non-zero without a result
when the checkout holds no graft sources.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
CPUS = max(1, min(4, os.cpu_count() or 1))
CORPUS_SEED = 42
CORPUS_VERSION = "v1"

# rows of each seeded input table per workload. serve_cascade trains on
# 240k rows: about 157k distinct six-field keys, above the 2^17 compiled
# cap, and about 60% exact hits for serve rows. Its serve table is half
# the size of serve_compiled's: a cascade serve costs about 5x a compiled
# one per row, and 1M rows keep it near 1.3 s, so a run holds a dozen
# operations for its median. The traced serve_compiled run also
# appends a delta to the index.
SIZES = {
    "serve_compiled": {"serve": 2_000_000, "train": 50_000, "holdout": 20_000},
    "serve_cascade": {"serve": 1_000_000, "train": 240_000, "holdout": 20_000},
}
TRACED_SIZES = {"serve_compiled": {"delta": 5_000}, "serve_cascade": {}}
TABLE_SEED = {"serve": 1, "train": 2, "holdout": 3, "delta": 4}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
        + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
           os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = os.environ.copy()
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft + the benchmark; return the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "classpath.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    lines = open(log, errors="replace").read().splitlines()
    cps = [ln.strip() for ln in lines
           if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if code != 0 or not cps:
        fail(f"build failed (exit {code}):\n{log_tail(log)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def wait(proc, timeout):
    """Wait for `proc`; on timeout, or when this script is itself stopped,
    kill its whole process group and wait for it to end. Returns the exit
    code (None when killed)."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def corpus():
    """The fixed query corpus of the query layers (one seed, generated
    once per checkout)."""
    path = os.path.join(STATE, f"corpus-{CORPUS_VERSION}")
    done = os.path.join(path, "DONE")
    if not os.path.isfile(done):
        shutil.rmtree(path, ignore_errors=True)
        datagen.corpus(path, CORPUS_SEED)
        open(done, "w").close()
    return path


def generate(workload, seed, traced, data):
    sizes = dict(SIZES[workload], **(TRACED_SIZES[workload] if traced else {}))
    for table, rows in sizes.items():
        datagen.lineitem(os.path.join(data, table), rows, seed * 10 + TABLE_SEED[table])


def oracle_check(run_dir, corpus_dir):
    """Hash-compare every query-row result with its DuckDB oracle using
    tools/check_oracle.py's normalisation. Returns one set-up check per
    row, in the form the benchmark JVM records its own checks."""
    import duckdb
    import pyarrow.parquet as pq
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    mix = os.path.join(run_dir, "mix")
    with open(os.path.join(mix, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in co.TABLES:
        p = os.path.join(corpus_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name, sql in sorted(oracle.items()):
        tbl = pq.read_table(os.path.join(mix, name))
        s_cols = list(tbl.column_names)
        s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
        try:
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            print(f"perfbench: oracle {name} failed to run: {e}", file=sys.stderr)
            checks.append({"name": f"oracle:{name}", "op": -1, "ok": False})
            continue
        same = (sorted(s_cols) == sorted(d_cols) and len(s_rows) == len(d_rows)
                and co.frame_hash(s_cols, s_rows) == co.frame_hash(d_cols, d_rows))
        if not same:
            print(f"perfbench: {name} disagrees with its DuckDB oracle", file=sys.stderr)
        checks.append({"name": f"oracle:{name}", "op": -1, "ok": same})
    con.close()
    return checks


def main():
    # a SIGTERM unwinds through wait()'s cleanup instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    t_start = time.time()

    run_dir = os.path.join(STATE, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        # a traced serve_cascade run also measures the query layers
        corpus_dir = corpus() if args.trace and args.workload == "serve_cascade" else None
        extra = ["--corpus", corpus_dir] if corpus_dir else []
        generate(args.workload, args.seed, args.trace, os.path.join(run_dir, "data"))
        raw = os.path.join(run_dir, "raw.json")
        log = os.path.join(run_dir, "jvm.log")
        cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            # a fixed heap and young generation with the throughput
            # collector keep heap resizing and concurrent GC work out of
            # the timed operations
            "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(run_dir, "data"), "--out", raw] + extra
        env = os.environ.copy()
        env["SPARK_GRAFT_CPUS"] = str(CPUS)
        env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        env.pop("SPARK_GRAFT_SF_DIR", None)
        t0 = time.time()
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            code = wait(proc, JVM_TIMEOUT_S)
        if code != 0 or not os.path.isfile(raw):
            fail(f"benchmark JVM failed (exit {code}) after {time.time() - t0:.0f}s:\n{log_tail(log)}")
        with open(raw) as f:
            rec = json.load(f)

        # keep the raw record (samples, spans, checks) of the latest run
        shutil.copy(raw, os.path.join(STATE, f"last-{args.workload}-trace{args.trace}.json"))
        checks = rec["checks"] + (oracle_check(run_dir, corpus_dir) if corpus_dir else [])
        attempted, failed = stats.outcomes(rec["op_ok"], checks)
        props_ok = all(p["ok"] for p in rec["properties"].values())
        if args.trace:
            values = metrics.per_layer(rec)
            defs = [(n, u) for n, u, *_ in metrics.PER_LAYER]
        else:
            values = metrics.end_to_end(rec)
            defs = [(n, u) for n, u, *_ in metrics.END_TO_END]
        result = {
            "correct": failed == 0 and props_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in defs},
        }
        # one diagnostic line (measured workload properties, raw phase
        # times), then the result as the last line
        print(json.dumps({"workload": args.workload, "properties": rec["properties"],
                          "setup_s": rec["setup_s"], "op_wall_s": rec["op_wall_s"],
                          "values": rec["values"], "wall_s": round(time.time() - t_start, 1)}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
