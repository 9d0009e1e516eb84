#!/usr/bin/env python3
"""Runs one workload of the benchmark once and prints its result.

Usage, from the root of the checkout:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 6 --trace 0

The first run in a checkout compiles the repository's sources together
with the benchmark's (sbt, perfbench/build.sbt). Each run starts one JVM,
which makes its inputs from the seed, times the workload, checks the
outputs and writes a raw record; this script turns that record into
metrics. The last line of standard output is the result object; a human
summary goes to standard error; the whole record, with the span tree of a
traced run, is written under .perfbench-results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOADS = ("extract", "ingest-query", "upload-query", "battery")
JVM_LIMIT_S = 165  # keeps a run inside its 180 s allowance
ORACLE_LIMIT_S = 60
# the battery's input: a byte-for-byte copy of the repository's read-only
# TESTDATA tables (TESTDATA.md), so a run reads nothing outside its checkout
TABLES = HERE / "tables" / "sf0.01"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


CHILDREN = []  # every process this run starts, each in its own process group


def spawn(cmd, **kw):
    kw.setdefault("stdout", sys.stderr)
    kw.setdefault("stderr", sys.stderr)
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def stop_children():
    """Kills every child process group and waits for each to end."""
    for proc in CHILDREN:
        if proc.returncode is None:
            kill(proc)
            proc.wait()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in [ROOT / "src" / "main", HERE / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


TARGET = HERE / "target"
JAR = TARGET / "perfbench.jar"
# class-data-sharing archive of the classes a tiny ingest-query run loads,
# written by the build: it halves JVM and Spark start-up in every run
CDS = TARGET / "perfbench.jsa"


def build(home):
    """Compiles and packages the program with the benchmark unless the
    sources are unchanged since the last build."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no program sources at src/main/scala/graft: run from a checkout of the repository")
    stamp_file = TARGET / "perfbench.stamp"
    stamp = source_stamp()
    if JAR.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    log("building (sbt package)")
    env = dict(os.environ, SPARK_HOME=home)
    code = spawn(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                 cwd=HERE, env=env).wait()
    jars = sorted((TARGET / "scala-2.13").glob("perfbench_*.jar"))
    if code != 0 or not jars:
        fail(f"build failed (sbt exit {code})")
    shutil.copyfile(jars[-1], JAR)
    CDS.unlink(missing_ok=True)
    work = ROOT / ".perfbench-work" / f"archive-{os.getpid()}"
    try:
        code, _ = run_jvm(jvm_cmd(home, [f"-XX:ArchiveClassesAtExit={CDS}"], [
            "--workload", "ingest-query", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--out", str(work / "raw.json"), "--work", str(work), "--size", "tiny"]))
        if code != 0:
            CDS.unlink(missing_ok=True)
            log("no class-data-sharing archive: runs start without it")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp_file.write_text(stamp)


def jvm_cmd(home, jvm_flags, args):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = f"{heap_gb()}g"
    return [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-Xlog:disable", "-Xlog:all=error:stderr", *jvm_flags,
            "-cp", f"{JAR}{os.pathsep}{Path(home) / 'jars' / '*'}", "perfbench.Main", *args]


def heap_gb():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return max(2, min(8, mem_kb // (4 << 20)))


def run_jvm(cmd):
    """Runs the JVM with a time limit; returns (exit code, peak RSS in MB)."""
    proc = spawn(cmd, cwd=ROOT)
    timer = threading.Timer(JVM_LIMIT_S, kill, [proc])
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def oracle_check(cold):
    """Checks the battery's cold pass against the DuckDB oracle with
    scripts/check_oracle.py; a non-zero exit or a timeout fails the check."""
    proc = spawn([sys.executable, str(ROOT / "scripts" / "check_oracle.py"), str(cold),
                  str(TABLES)], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                 text=True)
    try:
        out, _ = proc.communicate(timeout=ORACLE_LIMIT_S)
    except subprocess.TimeoutExpired:
        kill(proc)
        proc.wait()
        return {"name": "battery.oracle", "ok": False,
                "detail": f"check_oracle.py ran over {ORACLE_LIMIT_S} s"}
    return {"name": "battery.oracle", "ok": proc.returncode == 0,
            "detail": "" if proc.returncode == 0 else out[-2000:]}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few seconds of input, for the smoke test")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    home = spark_home()
    build(home)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = ROOT / ".perfbench-work" / f"{tag}-{os.getpid()}"
    results = ROOT / ".perfbench-results"
    results.mkdir(exist_ok=True)
    raw_path = work / "raw.json"
    try:
        work.mkdir(parents=True)
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--out", str(raw_path), "--work", str(work),
                    "--size", a.size, "--commit", commit()]
        if a.workload == "battery":
            jvm_args += ["--tables", str(TABLES)]
        cds = [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else []
        code, rss_mb = run_jvm(jvm_cmd(home, cds, jvm_args))
        if code != 0 or not raw_path.is_file():
            fail(f"benchmark JVM failed (exit {code})", 1)
        raw = json.loads(raw_path.read_text())

        checks = list(raw["checks"])
        if a.workload == "battery":
            checks.append(oracle_check(work / "cold"))
        correct = all(c["ok"] for c in checks)
        attempted = len(raw["ops"])
        failed = sum(1 for o in raw["ops"] if not o["ok"])

        record = {k: raw[k] for k in ("workload", "seed", "trace", "size", "seconds", "host",
                                      "env", "spark_conf", "calibration", "sessions",
                                      "setup_s", "ops", "bulk", "samples", "info")}
        record.update(checks=checks,
                      failures=[o for o in raw["ops"] if not o["ok"]])
        if a.trace:
            values, details = stats.per_layer(raw)
            units = {}
            record.update(span_tree=stats.span_tree(raw["spans"]), stages=raw["stages"],
                          jobs=raw["jobs"], per_layer=values, per_layer_details=details)
        else:
            e2e, details = stats.end_to_end(raw, rss_mb)
            values = {k: v for k, (v, _, _) in e2e.items()}
            units = {k: u for k, (_, u, _) in e2e.items()}
            record.update(end_to_end={k: {"value": v, "unit": u, "samples": n}
                                      for k, (v, u, n) in e2e.items()},
                          end_to_end_details=details)
            for k, (v, u, n) in e2e.items():
                log(f"{k:12s} {v:14.4f} {u:6s} n={n}")
            log(f"op_tail_ms is p{details['op_tail_percentile']:.1f} of "
                f"{details['op_tail_samples']} {details['op_kinds']['op_tail_ms']} operations")
        (results / f"{tag}.json").write_text(json.dumps(record, indent=1))
        for c in checks:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
        log(f"{attempted} operations, {failed} failed; "
            f"{sum(c['ok'] for c in checks)}/{len(checks)} checks passed")
        print(json.dumps(result(correct, attempted, failed, values, units)), flush=True)
        if not correct:
            sys.exit(1)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)


def result(correct, attempted, failed, values, units):
    """The result object: exactly `correct`, `attempted`, `failed` and
    `metrics`, each metric a {value, unit} pair."""
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units.get(k, unit_of(k))}
                        for k, v in values.items()}}


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if "_ns_per_" in leaf:
        return "ns"
    if "bytes" in leaf:
        return "B"
    for suffix, unit in (("_ms", "ms"), ("_s", "s")):
        if leaf.endswith(suffix):
            return unit
    return "ratio" if leaf.endswith(("ratio", "share", "eff", "skew")) else "count"


if __name__ == "__main__":
    main()
