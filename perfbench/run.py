#!/usr/bin/env python3
"""Export-loop and operator benchmark for graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_hourly --seed 1 --seconds 20 --trace 0

It builds the program and the harness from source (once per checkout),
runs one workload in a fresh working directory under .perfbench/, checks
the outputs, and prints one JSON object as the last line of stdout. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones (a layer a workload does not exercise reads 0). The exit
code is non-zero when the build, the run or an output check fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF_DIR = "/root/testdata/sf0.1"
JVM_BUDGET_S = 150
# The heap is reserved at its cap up front and the young generation is
# fixed, so GC timing neither resizes the heap nor moves the young/old
# split. Pages are not pre-touched: RSS then follows the young generation
# plus what the program really keeps in the old one and off-heap.
HEAP = "3g"
YOUNG = "512m"
# Collector threads: as many as Spark's task slots (Main.Cores), so a pause
# does not ask for every vCPU of the run at once.
GC_THREADS = 2
# workloads and metric names and units: BENCHMARK.json at the checkout root
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    """Hash of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [p for p in glob.glob(base + "/**/*", recursive=True)
                  if os.path.isfile(p) and "/target/" not in p]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt; returns the runtime
    classpath. The result is cached per source digest."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no program sources next to perfbench/: run from a full checkout")
    stamp = os.path.join(STATE, "build.json")
    digest = sources_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest and all(
                os.path.exists(p) for p in cached["classpath"].split(":")):
            return cached["classpath"]
    os.makedirs(STATE, exist_ok=True)
    opts = os.environ.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.isfile(repos):
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    env = dict(os.environ, SBT_OPTS=opts.strip(),
               COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (rc={r.returncode}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, args, work, log_path):
    """Runs the harness JVM in `work`; returns its peak RSS in MB."""
    java = os.path.join(os.environ.get("JAVA_HOME", "/usr"), "bin", "java")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-XX:ParallelGCThreads={GC_THREADS}", "-XX:ConcGCThreads=1",
           # the JIT compiles a method after a quarter of the usual calls,
           # so the code a pass runs stops getting faster within the
           # warm-up passes rather than ten passes later; the compiler
           # threads are fixed in number, so the harness can leave their
           # CPU time out of the program's (Main.Host.cpuNs)
           "-XX:CompileThresholdScaling=0.25",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        deadline = time.monotonic() + JVM_BUDGET_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                fail(f"harness ran past {JVM_BUDGET_S} s; see {log_path}")
            time.sleep(0.05)
    if not os.WIFEXITED(status) or os.WEXITSTATUS(status) != 0:
        with open(log_path) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"harness failed; see {log_path}")
    return usage.ru_maxrss / 1024.0


def result_digest(df):
    """Order-independent digest of a result table: sorted column names,
    rows sorted, every value as text."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    rows = sorted("\x01".join(
        "NaN" if isinstance(v, float) and math.isnan(v) else str(v)
        for v in r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x02".join(df.columns).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x00")
    return len(rows), h.hexdigest()


def oracle_digest(con, sql):
    """DuckDB's answer to one oracle query, cached in .perfbench/ per SQL
    text and input file state: a few oracles take seconds, and the answer
    changes only when either does."""
    state = [(p, os.path.getsize(p), os.path.getmtime(p))
             for p in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet")))]
    key = hashlib.sha256(json.dumps([sql, state]).encode()).hexdigest()
    path = os.path.join(STATE, "oracle", key + ".json")
    if os.path.isfile(path):
        with open(path) as f:
            return tuple(json.load(f))
    d = result_digest(con.execute(sql).fetchdf())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(d, f)
    return d


def check_ops(work):
    """Every query's last-pass result against DuckDB running its oracle
    SQL over the same sf0.1 tables. Returns the list of mismatches."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for q in oracle:
        parts = sorted(glob.glob(os.path.join(work, "results", q, "*.parquet")))
        if not parts:
            bad.append(f"{q}: no result")
            continue
        got = result_digest(pd.concat([pd.read_parquet(p) for p in parts],
                                      ignore_index=True))
        want = oracle_digest(con, oracle[q])
        if got != want:
            bad.append(f"{q}: {got[0]} result rows differ from the "
                       f"oracle's {want[0]}")
    return bad


def main():
    if not os.path.isfile(SPEC_PATH):
        fail(f"no {SPEC_PATH}: run from the root of a full checkout")
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(SF_DIR):
        fail(f"input tables not found at {SF_DIR}")

    classpath = build()
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    last = os.path.join(STATE, "last")
    os.makedirs(last, exist_ok=True)
    out_json = os.path.join(work, "result.json")
    trace_path = os.path.join(last, f"{a.workload}.trace.jsonl")
    rss = run_jvm(classpath,
                  [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                   SF_DIR, out_json, trace_path],
                  work, os.path.join(last, f"{a.workload}.log"))
    with open(out_json) as f:
        res = json.load(f)
    correct = bool(res["correct"])
    if a.workload == "ops_mix":
        bad = check_ops(work)
        for b in bad:
            print(f"[perfbench] check failed: {b}", file=sys.stderr)
        correct = correct and not bad
    shutil.rmtree(work, ignore_errors=True)

    got = dict(res["metrics"], peak_rss_mb=rss)
    if a.trace:
        # the operator metrics must name the mix the harness ran
        stale = [m["name"] for m in spec["per_layer"] if a.workload == "ops_mix"
                 and m["name"].startswith("ops.") and m["name"] not in got]
        if stale:
            fail(f"BENCHMARK.json names queries outside the mix: {stale}")
        metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
