#!/usr/bin/env python3
"""The repo's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload suite|hrv_batch|hrv_stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/scala) with the Scala compiler
shipped among the Spark jars named by build.sbt's `unmanagedBase` (or
$SPARK_HOME/jars), into .bench_build/, and generates the suite's sf tables
with graft.GenSf. Later runs reuse both while the sources are unchanged.

Each run starts one JVM (perfbench/scala/.../Harness.scala), which builds
the session, runs the workload, checks its outputs and writes a record.
The `suite` workload's results are then compared with the DuckDB oracle by
tools/check.py, unchanged. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The full record (host, load sentinel, checks,
per-stage detail, spans) is written under .bench_build/results/.

Options for the smoke test only: --size tiny shrinks every workload,
--perturb 1 hands every output check a wrong expectation.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SUITE_SF = "0.01"
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        if not sbt.exists():
            fail("no build.sbt: run from the root of a checkout of the repo")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        jars = Path(m.group(1))
    if not list(jars.glob("spark-core_*.jar")):
        fail(f"no Spark jars in {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        fail("no engine sources under src/main/scala")
    return engine + sorted((HERE / "scala").rglob("*.scala"))


def java_cmd(jars, classes, tmp, heap=HEAP):
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", *opens, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars}/*"]


def build(jars):
    """Compile engine + harness into .bench_build/classes unless the
    sources are unchanged since the last build."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.exists():
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar"), "")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars in {jars}")
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")
    stamp_file.write_text(stamp)
    return classes, stamp


def suite_tables(jars, classes):
    """The suite's sf tables, generated once per checkout by graft.GenSf
    (deterministic, as the judged tables are)."""
    sf = BUILD / f"sf{SUITE_SF}"
    done = sf / "_generated"
    if done.exists():
        return sf
    shutil.rmtree(sf, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    r = subprocess.run(java_cmd(jars, classes, BUILD / "tmp") + ["graft.GenSf", str(sf), SUITE_SF],
                       capture_output=True, text=True, env=env, timeout=600)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        fail("GenSf failed")
    done.write_text(r.stdout)
    return sf


def oracle_check(sf, dump, perturb):
    """tools/check.py's DuckDB comparison, as it is, over the harness's
    dump; returns (per-query failures, its summary line)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check  # noqa: E402  (tools/check.py)
    if perturb:
        oracle = json.loads((dump / "oracle_sql.json").read_text())
        first = sorted(oracle)[0]
        oracle[first] = "SELECT 1 AS perturbed"
        (dump / "oracle_sql.json").write_text(json.dumps(oracle))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(str(sf), str(dump))
    lines = out.getvalue().splitlines()
    bad = [ln for ln in lines if ln.startswith(("FAIL", "ERR"))]
    return bad, (lines[-1] if lines else "")


def dump_rows(dump, name):
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f).num_rows for f in (dump / name).glob("*.parquet"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["suite", "hrv_batch", "hrv_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--perturb", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("no BENCHMARK.json at the checkout root")
    spec = json.loads(spec_path.read_text())
    jars = spark_jars()
    classes, stamp = build(jars)
    sf = suite_tables(jars, classes) if a.workload == "suite" else None

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = BUILD / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    cmd = java_cmd(jars, classes, work / "tmp") + [
        "org.apache.spark.graftbench.Harness",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--out", str(out),
        "--sf", str(sf or ""), "--size", a.size, "--perturb", str(a.perturb),
        "--launched-ns", str(time.time_ns())]
    log = (work / "jvm.log").open("w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness timed out after {JVM_TIMEOUT_S} s; log: {work / 'jvm.log'}")
    log.close()
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {proc.returncode}")
    rec = json.loads(out.read_text())

    failed = rec["failed"]
    checks = rec["checks"]
    if a.workload == "suite":
        dump = Path(rec["detail"]["dump"])
        bad, summary = oracle_check(sf, dump, a.perturb)
        checks.append({"name": "suite.oracle", "ok": not bad,
                       "detail": summary + ("; " + "; ".join(bad[:5]) if bad else "")})
        wrong_counts = sorted(n for n, c in rec["detail"]["expected_counts"].items()
                              if dump_rows(dump, n) != c)
        checks.append({"name": "suite.count_equals_dump", "ok": not wrong_counts,
                       "detail": ",".join(wrong_counts[:10]) or "all counts match"})
        failed += len(bad) + len(wrong_counts)

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = rec["layers"] if a.trace else rec["metrics"]
    missing = [m["name"] for m in want if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics missing from the record: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in want}
    correct = failed == 0 and all(c["ok"] for c in checks)

    rec["host"]["commit"] = None  # a checkout without .git is named by source_sha256 alone
    if (ROOT / ".git").exists() and shutil.which("git"):
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        rec["host"]["commit"] = git.stdout.strip() or None
    rec.update(checks=checks, failed=failed, correct=correct, source_sha256=stamp,
               seconds=a.seconds, size=a.size)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{run_id}.json").write_text(json.dumps(rec, indent=1))
    if (work / "spans.jsonl").exists():
        shutil.copy(work / "spans.jsonl", results / f"{run_id}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    for c in checks:
        print(f"[perfbench] check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}",
              file=sys.stderr)
    print(json.dumps({"metrics": rec["metrics"], "host": rec["host"],
                      "detail": {k: v for k, v in rec["detail"].items()
                                 if k not in ("expected_counts", "errors", "warmup_latency")}}),
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
