#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the harness from source, runs one
workload in one fresh JVM, checks its outputs, and prints every metric.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: handler_session, operator_panel (see BENCHMARK.json and
perfbench/README.md).
Human-readable lines come first; the last line of standard output is the
result object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones (the
traced run also keeps its spans under .bench_build/perfbench/last/).

Everything the run writes stays under .bench_build/ in the repository root;
the per-run directory is deleted when the run ends.
"""
import argparse
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("handler_session", "operator_panel")
JVM_TIMEOUT_S = 165
# JDK 17 module opens Spark needs outside spark-submit (the launcher's
# default module options; the library's build.sbt passes the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a checkout builds exactly once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt-builds the library and harness jars once per source state, then
    records a class-data-sharing archive of the classes a short training run
    loads (the JVM maps it at start instead of parsing them from the jars).
    Returns (classpath, archive or None)."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    jsa = os.path.join(WORK, "classes.jsa")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), jsa if os.path.exists(jsa) else None
    os.makedirs(WORK, exist_ok=True)
    for f in (stamp_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspathAsJars"]
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(cmd, HERE, env, log, timeout=600)
    lines = open(log_path).read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        tail = "\n".join(lines[-25:])
        fail(f"build failed (rc={rc}); log tail:\n{tail}")
    classpath = cps[-1]
    train = os.path.join(WORK, "runs", "cds-training")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    with open(os.path.join(WORK, "cds-training.log"), "w") as log:
        run_group(jvm_cmd(classpath, None, train, [f"-XX:ArchiveClassesAtExit={jsa}"],
                          "operator_panel", 0, 1, "0"),
                  ROOT, os.environ.copy(), log, timeout=JVM_TIMEOUT_S)
    shutil.rmtree(train, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, jsa if os.path.exists(jsa) else None


def jvm_cmd(classpath, jsa, run_dir, extra, workload, seed, seconds, trace):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ([f"-XX:SharedArchiveFile={jsa}"] if jsa else []) + extra + [
        HEAP, f"-Djava.io.tmpdir={run_dir}/tmp", "-Duser.timezone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", trace, "--out", run_dir]


def run_group(cmd, cwd, env, out, timeout):
    """Runs cmd in its own process group; kills the whole group on timeout and
    waits until it has ended. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def norm(df, pd):
    """Column-name order and dtype widening, as the repository's oracle gate
    (tools/check.py) applies before its exact compare."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df


def oracle_check(run_dir):
    """Compares each warm-up panel result with its SparkEntry.oracleSql result
    in DuckDB over the same generated tables. Returns {query: problem}."""
    import duckdb
    import numpy as np
    import pandas as pd
    tables = os.path.join(run_dir, "tables")
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tables}/{name}/*.parquet')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for q, sql in sorted(oracle.items()):
        try:
            got = norm(pd.read_parquet(os.path.join(run_dir, "results", q)), pd)
            exp = norm(con.execute(sql).fetchdf(), pd)
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            bad[q] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            bad[q] = f"columns {list(got.columns)} != oracle {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[q] = f"rows {len(got)} != oracle {len(exp)}"
        else:
            for c in got.columns:
                g, e = got[c], exp[c]
                if g.dtype == object:
                    eq = (g.isna() & e.isna()) | (g.astype(str) == e.astype(str))
                else:
                    eq = (g.isna() & e.isna()) | (g == e)
                if not bool(eq.all()):
                    i = int(np.argmin(eq.values))
                    bad[q] = f"col {c} row {i}: spark={g.iloc[i]!r} oracle={e.iloc[i]!r}"
                    break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT} (expected build.sbt and src/main/scala/graft)")

    classpath, jsa = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = jvm_cmd(classpath, jsa, run_dir, [], a.workload, a.seed, a.seconds, a.trace)
    t0 = time.time()
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = run_group(cmd, ROOT, os.environ.copy(), log, timeout=JVM_TIMEOUT_S)
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                tail = "".join(f.readlines()[-30:])
            fail(f"{a.workload} run failed (rc={rc}) after {time.time() - t0:.0f}s:\n{tail}")
        with open(result_path) as f:
            res = json.load(f)
        bad = oracle_check(run_dir) if a.workload == "operator_panel" else {}
        # every op of a query whose result the oracle rejects is a failed op
        by_kind = res["ops_by_kind"]
        failed = res["failed"] + sum(
            v["attempted"] - v["failed"] for k, v in by_kind.items()
            if k.startswith("panel.") and k[len("panel."):] in bad)
        last = os.path.join(WORK, "last", tag)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for name in ("result.json", "spans.jsonl", "jvm.log"):
            if os.path.exists(os.path.join(run_dir, name)):
                shutil.copy(os.path.join(run_dir, name), last)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["end_to_end"]
    e2e["error_rate"]["value"] = failed / res["attempted"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} "
          f"({time.time() - t0:.1f}s wall)")
    for k, v in res["info"].items():
        print(f"  info {k} = {v}")
    for k, m in e2e.items():
        print(f"  end_to_end {k} = {m['value']:.6g} {m['unit']}")
    for k, m in res["per_layer"].items():
        print(f"  per_layer {k} = {m['value']:.6g} {m['unit']}")
    for q, why in sorted(bad.items()):
        print(f"  ORACLE MISMATCH {q}: {why}")
    for why in res["failures"]:
        print(f"  FAILED {why}")
    print(f"  check: {res['attempted'] - failed}/{res['attempted']} ops as expected"
          + ("" if a.workload != "operator_panel"
             else f"; DuckDB oracle {len(by_kind) - len(bad)}/{len(by_kind)} queries"))
    if a.trace == "1":
        print(f"  spans: {os.path.relpath(os.path.join(last, 'spans.jsonl'), ROOT)}")

    # error_rate is failed/attempted of the result line (it is 0 on a correct
    # run, so it is not one of the bounded metrics)
    metrics = res["per_layer"] if a.trace == "1" else \
        {k: v for k, v in e2e.items() if k != "error_rate"}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
