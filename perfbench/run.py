#!/usr/bin/env python3
"""graft benchmark launcher.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the graft library and the harness from source on first use
(sbt, offline), runs one workload in one JVM at local[4], checks its
outputs, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the run's spans are kept under .bench_build/traces.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["shop_queries", "corpus_build", "enrich_stream", "admit_stream"]
# the workloads whose classes the class-data-sharing archive records
ARCHIVED = ["shop_queries", "enrich_stream"]
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# seed-independent inputs the runs reuse; made again after each build
FIXTURES = os.path.join(BUILD, "fixtures")
DEADLINE_S = 170
UNITS = {"setup_s": "s", "cold_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
         "items_per_s": "1/s"}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input, so a changed source triggers a rebuild."""
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), HERE,
                 os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")) and "target" not in d)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build (once per source state) and return the runtime classpath:
    the graft and harness jars, then Spark's. Each build also records a
    class-data-sharing archive of the classes the workloads load, so a
    run's JVM maps them instead of loading and verifying them again."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    cp = lines[-1].strip()
    shutil.rmtree(FIXTURES, ignore_errors=True)
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_jvm(cp, ["--train", ",".join(ARCHIVED), "--work", train], train, 600,
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(train, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, budget_s, jvm_flags=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] + jvm_flags + [
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -1
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        die(f"benchmark JVM exited with {code}; log tail:\n{tail}")


def canon(df):
    """scripts/check_oracle.py's canonical form: columns by name, rows by all columns."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_failures(data_dir, out_dir):
    """Compare every oracle-bearing cold result against DuckDB, exactly as
    scripts/check_oracle.py does (string-equal cells after canon)."""
    import glob
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fails.append(f"{name}: no spark output")
            continue
        s = canon(pd.concat([pd.read_parquet(f) for f in files]))
        try:
            o = canon(con.execute(sql).fetchdf())
        except Exception as e:  # an oracle error is a failed check
            fails.append(f"{name}: oracle error {e}")
            continue
        if list(s.columns) != list(o.columns) or len(s) != len(o):
            fails.append(f"{name}: shape spark={list(s.columns)}x{len(s)} "
                         f"oracle={list(o.columns)}x{len(o)}")
        elif s.astype(str).to_csv(index=False) != o.astype(str).to_csv(index=False):
            fails.append(f"{name}: cell mismatch")
    return fails, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("graft sources not found next to perfbench/: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    lock = open(os.path.join(BUILD, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp = classpath()
    built = time.time()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--fixtures", FIXTURES]
    run_jvm(cp, args, work, DEADLINE_S - (time.time() - built))

    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    failures = list(res["info"]["check_failures"])
    if a.workload == "shop_queries":
        fails, n = oracle_failures(os.path.join(work, "in"), os.path.join(work, "out", "cold"))
        failures += fails
        res["info"]["oracle"] = f"{n - len(fails)}/{n}"
    res["info"]["check_failures"] = failures

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
        plain = os.path.join(BUILD, "results", f"{tag}.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            res["tracing_overhead"] = {k: res["end_to_end"][k] - base[k] for k in base}
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(tdir, f"{tag}.spans.json"))
        with open(os.path.join(tdir, f"{tag}.json"), "w") as f:
            json.dump(res, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in res["end_to_end"].items()}
        with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as f:
            json.dump(res, f, indent=1)

    info = res["info"]
    print(json.dumps({"info": info, "tracing_overhead": res.get("tracing_overhead")}))
    for msg in failures:
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]) and not failures,
                      "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                      "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("_frac", "ratio"),
                         ("_1thread", "x")):
        if leaf.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
