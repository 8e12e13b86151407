#!/usr/bin/env python3
"""Seeded lake benchmark: builds the program with the harness, runs one
workload in one JVM at local[nproc], checks its outputs and prints every
metric by name and unit. The last stdout line is the JSON result.

    python3 perfbench/run.py --workload etl_flip --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Build outputs and scratch files go under
.bench_build/ in that checkout; nothing is read or written outside it
except the JDK, sbt and the Spark installation.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd().resolve()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("etl_flip", "lake_upsert", "corpus_shards")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the build and the JVM use."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home
    die("set SPARK_HOME or put a Spark distribution's bin on PATH")


def sources():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile the program and the harness unless the sources are unchanged.
    Returns the classes directory and the digest of the sources."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "build.stamp"
    classes = BUILD / "target" / "scala-2.13" / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes, digest.hexdigest()
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.log", "w") as log:
        rc = subprocess.call(["sbt", "-batch", "compile"], cwd=BENCH, stdout=log,
                             env=dict(os.environ, SPARK_HOME=str(spark_home())),
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (exit {rc}); see {BUILD / 'build.log'}")
    stamp.write_text(digest.hexdigest())
    return classes, digest.hexdigest()


def run_jvm(classes, workload, seed, seconds, trace, work):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    out = work / "result.json"
    cmd = [str(java), "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{spark_home() / 'jars'}/*", "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(work), "--out", str(out),
        "--src", str(ROOT / "src" / "main" / "scala"),
        "--launched-ms", str(int(time.time() * 1000)),
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        die(f"{workload} run failed (exit {rc})")
    return json.loads(out.read_text())


def oracle_check(res):
    """corpus_shards: every distinct read-back must equal the DuckDB oracle."""
    extra = res.get("extra") or {}
    if not extra.get("outputs"):
        return []
    import duckdb
    work = Path(extra["fixture"]).parent.parent
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{extra['fixture']}/*.parquet')")
    expected = {}
    bad_ops = []
    for o in extra["outputs"]:
        sql = (work / f"oracle_{o['query']}.sql").read_text()
        if sql not in expected:
            # DuckDB inlines every CTE reference; materializing each CTE once
            # evaluates the same deterministic SQL ~50x faster
            con.execute("CREATE OR REPLACE TABLE manifest AS " + re.sub(
                r"(?m)^(\s*(?:WITH\s+)?[A-Za-z_]\w*\s+AS\s+)\(", r"\1MATERIALIZED (", sql))
            expected[sql] = {name: con.execute(q).fetchall() for name, q in extra["reads"].items()}
        want = "\n".join(sorted("|".join(str(v) for v in r) for r in expected[sql][o["read"]]))
        if o["rows"] != want or not want:
            bad_ops += o["ops"]
    return bad_ops


def count_check(res, runs, workload, seed):
    """Job and stage counts per op must repeat exactly across traced runs of
    one build on one seed; a new build starts a new record."""
    counts = res.get("counts") or []
    path = runs / f"counts-{workload}-{seed}.json"
    if path.exists():
        prev = json.loads(path.read_text())
        n = min(len(prev), len(counts))
        diff = [i for i in range(n) if prev[i] != counts[i]]
        if diff:
            return f"job/stage counts differ from the previous run at ops {diff[:5]}: " \
                   f"{[prev[i] for i in diff[:3]]} vs {[counts[i] for i in diff[:3]]}"
        if len(counts) > len(prev):
            path.write_text(json.dumps(counts))
    else:
        path.write_text(json.dumps(counts))
    return None


def measure(classes, workload, seed, seconds, trace):
    work = BUILD / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    try:
        res = run_jvm(classes, workload, seed, seconds, trace, work)
        failed_ops = set(oracle_check(res))
        # the full result (stamp, dials, counts) and the spans outlive the run
        (results / f"{workload}-{seed}-trace{trace}.json").write_text(json.dumps(res))
        shutil.copy(work / "jvm.log", results / f"{workload}-{seed}-trace{trace}.log")
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", results / f"{workload}-{seed}-spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures = list(res["failures"])
    if failed_ops:
        failures.append(f"ops {sorted(failed_ops)[:10]} differ from the DuckDB oracle")
    failed = res["failed"] + len(failed_ops)
    return res, failed, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; expected one of {', '.join(WORKLOADS)}")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no program sources under {ROOT}/src/main/scala/graft; run from a checkout root")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes, digest = build()
    # what later runs of this same build compare against
    runs = BUILD / "runs" / digest[:16]
    runs.mkdir(parents=True, exist_ok=True)

    res, failed, failures = measure(classes, a.workload, a.seed, a.seconds, a.trace)
    m = res["metrics"]
    m["failed_frac"] = {"value": failed / max(res["attempted"], 1), "unit": "ratio"}
    base_file = runs / f"untraced-{a.workload}-{a.seed}-{a.seconds:g}.json"
    if a.trace:
        problem = count_check(res, runs, a.workload, a.seed)
        if problem:
            failures.append(problem)
            failed += 1
        # the untraced run of this build, seed and length, else one made now
        if base_file.exists():
            base = json.loads(base_file.read_text())
            print(f"# tracing overhead against the untraced run stored in {base_file.relative_to(ROOT)}")
        else:
            base = measure(classes, a.workload, a.seed, a.seconds, 0)[0]["metrics"]
            base_file.write_text(json.dumps(base))
            print("# tracing overhead against an untraced run made now")
        for k in ("write_p50_s", "read_p50_s"):
            over = m[k]["value"] - base[k]["value"]
            m[f"trace.overhead_{k}"] = {"value": over, "unit": "s"}
            m[f"trace.overhead_{k.replace('_s', '')}_frac"] = {"value": over / base[k]["value"], "unit": "ratio"}
    else:
        base_file.write_text(json.dumps(m))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [x["name"] for x in wanted if x["name"] not in m]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    stamp = res["stamp"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} host: nproc={stamp['nproc']} "
          f"{stamp['master']} heap={stamp['driver_heap_max_mb']}MB spark={stamp['spark_version']} "
          f"jvm={stamp['jvm_version']}")
    tail = lambda p: f"tail p{p:g}" if p else "too few for a tail"
    print(f"# ops in the {stamp['pass_cycles']} of {stamp['cycles']} cycles that form whole passes: "
          f"{stamp['write_ops']} writes ({tail(stamp['write_tail_pct'])}), "
          f"{stamp['read_ops']} reads ({tail(stamp['read_tail_pct'])}), {res['attempted']} attempted, "
          f"{failed} failed; window {stamp['window_s']:.2f}s (cpu steal {stamp['cpu_steal_frac']:.3f}), "
          f"setup {m['setup_s']['value']:.2f}s (JVM start {stamp['setup_jvm_s']:.2f}s), "
          f"prepare {stamp['prepare_s']:.2f}s, finish {stamp['finish_s']:.2f}s")
    print(f"# dials: {json.dumps(stamp['workload_dials'])[:2000]}")
    for f in failures[:10]:
        print(f"# FAILED: {f}")
    for name, v in m.items():
        print(f"{name:48s} {v['value']:.6g} {v['unit']}")
    correct = failed == 0 and not missing
    out = {x["name"]: {"value": m[x["name"]]["value"], "unit": x["unit"]}
           for x in wanted if x["name"] in m}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
