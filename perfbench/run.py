#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <docs_flow|curate|stream_serve>
        --seed <n> --seconds <s> --trace <0|1> [--scale smoke]

Run from the repository root. The first run builds the program and
the workload runner (perfbench/build.sbt, offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before
it holds the diagnostics kept beside the metrics (host weather, session
conf, tail percentiles); perfbench/out/ keeps the full record of each
run. Inputs come from the seed and the testdata directory named by
PERFBENCH_TESTDATA (default ~/testdata/sf0.1); the Spark jars come from
$SPARK_HOME/jars.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# A fixed, pre-touched heap: the process's peak RSS then moves with what
# the program holds outside the heap and with heap overruns (which fail
# the run), not with when the collector happened to grow the heap.
HEAP_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# A run must end within 180 s; the build gets its own allowance.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def preflight(testdata):
    """Every input the run needs, named in one message if any is
    missing."""
    missing = []
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        missing.append("program sources %s" % os.path.join(ROOT, "src", "main", "scala"))
    for t in ("documents.parquet", "embeddings.parquet"):
        if not os.path.exists(os.path.join(testdata, t)):
            missing.append("testdata table %s" % os.path.join(testdata, t))
    if not os.path.isdir(SPARK_JARS):
        missing.append("Spark jars $SPARK_HOME/jars (%s)" % SPARK_JARS)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            missing.append("%s on PATH" % tool)
    try:
        import duckdb  # noqa: F401
    except ImportError:
        missing.append("python module duckdb")
    if missing:
        fail("missing input(s): " + "; ".join(missing))


def fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _dirs, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    h.update(open(os.path.join(HERE, "build.sbt"), "rb").read())
    return h.hexdigest()


def build():
    fp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == fp:
        return open(CLASSPATH).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        fail("build failed (exit %d), see %s" % (p.returncode, log_path))
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(STAMP, "w") as f:
        f.write(fp)
    return lines[-1]


def run_jvm(cp, args, work, raw_path, testdata):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + HEAP_OPTS + ["-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw_path, "--testdata", testdata,
            "--scale", args.scale]
    log_path = os.path.join(HERE, "out", "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("workload timed out after %d s, see %s" % (RUN_TIMEOUT_S, log_path))
    if rc != 0 or not os.path.exists(raw_path):
        fail("workload exited %d without results, see %s" % (rc, log_path))


def curate_oracle(raw):
    """q_pretrain_pipeline's DuckDB oracle over the run's own documents,
    compared with the oracle-checked pass's packed sequences."""
    import duckdb
    o = raw["values"]["oracle"]
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet('%s/*.parquet')"
            % o["documents"])
    want = [tuple(r) for r in con.sql(o["sql"]).fetchall()]
    got = con.sql("SELECT seq_id, seq_len, n_docs, ids_md5 FROM read_parquet('%s/*.parquet') "
                  "ORDER BY seq_id" % o["result"]).fetchall()

    def norm(rows):
        return [(int(a), int(b), int(c), str(d)) for a, b, c, d in rows]
    return norm(got) == norm(want) and len(want) > 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["docs_flow", "curate", "stream_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    args = ap.parse_args()
    testdata = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata/sf0.1"))
    preflight(testdata)
    cp = build()

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(HERE, "work", "%s_%d_%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(cp, args, work, raw_path, testdata)
        raw = json.load(open(raw_path))
        if args.workload == "curate" and "oracle" in raw["values"]:
            raw["attempted"] += 1
            ok = False
            try:
                ok = curate_oracle(raw)
            except Exception as e:  # an oracle that cannot run is a failed check
                raw["failures"].append("duckdb oracle error: %s" % e)
            if not ok:
                raw["failed"] += 1
                raw["failures"].append("oracle mismatch: q_pretrain_pipeline vs DuckDB")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "conf": raw["conf"], "weather_before": raw.get("weather_before"),
            "weather_after": raw.get("weather_after"), "failures": raw["failures"]}
    if args.trace:
        metrics = stats.per_layer(raw)
    else:
        metrics, d = stats.end_to_end(raw)
        diag.update(d)
    result = {"correct": raw["failed"] == 0, "attempted": raw["attempted"],
              "failed": raw["failed"], "metrics": metrics}
    raw.pop("spans", None)
    record = dict(result, diagnostics=diag, raw=raw)
    name = "%s_seed%d_trace%d.json" % (args.workload, args.seed, args.trace)
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
