#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run compiles src/main/scala and
perfbench/scala with the Scala compiler among the Spark jars into
.bench_build/ (later runs reuse it while the sources are unchanged). Then:

1. it launches the measuring JVM (perfbench/scala/graftbench/Harness.scala)
   and times its set-up, from launch until the session is ready;
2. the JVM runs the workload's queries as a closed loop: a cold first
   pass, PASSES later passes (fewer only if they outlast --seconds), and
   an untimed verify pass that writes every result as parquet;
3. each written result is normalised as tools/check_correctness.py does
   and its digest compared with the DuckDB oracle's in
   perfbench/oracle/digests.json (made by perfbench/oracle.py).

Scratch (warehouse, spark.local.dir, java.io.tmpdir, results) lives in
.bench_run/<workload>-<pid>/ and is removed at exit. --trace 1 attaches the
listeners and prints the per-layer metrics instead; its per-query breakdown
goes to perfbench/out/. The last line of stdout is the result object.
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
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_run"
OUT = HERE / "out"

# One core stays free for the JIT compiler, GC and the calling thread.
THREADS = max(1, min(4, (os.cpu_count() or 2) - 1))
HEAP = "3g"
PASSES = 5
JVM_DEADLINE_S = 150
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# The module flags build.sbt passes to forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

class BenchError(Exception):
    pass


def workloads():
    return json.loads((HERE / "workloads.json").read_text())


def metric_units(kind):
    """name -> unit of the "end_to_end" or "per_layer" metrics that
    BENCHMARK.json declares; the result line reports exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def data_dir():
    """SPARK_GRAFT_SF_DIR, else the sf0.1 directory TESTDATA.md lists."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"`([^`]*sf0\.1)/?`", doc.read_text() if doc.exists() else "")
    if not m:
        raise BenchError("no sf0.1 directory: set SPARK_GRAFT_SF_DIR")
    return m.group(1)


def jars_dir():
    """The Spark jars the build file compiles against."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise BenchError("cannot locate the Spark jars: no build.sbt unmanagedBase")


def classpath():
    return f"{BUILD / 'classes'}{os.pathsep}{jars_dir() / '*'}"


def build():
    """Compile the program and the harness unless the stamp is current."""
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BenchError(f"no program sources at {main}")
    sources = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    h = hashlib.sha256(str(jars_dir()).encode())
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = h.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "classes.tmp"
    tmp.mkdir(parents=True)
    jars = f"{jars_dir() / '*'}"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    tmp.rename(classes)
    stamp_file.write_text(stamp)


def jvm(work, args):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath(),
               "graftbench.Harness", "--work", str(work),
               "--threads", str(THREADS)] + args)


def launch(work, args, log):
    """Run one harness JVM; return (seconds from launch to its ready line,
    its last JSON line). The JVM is killed if it outlives the deadline."""
    t0 = time.perf_counter()
    with open(log, "ab") as err:
        p = subprocess.Popen(jvm(work, args), cwd=work, stdout=subprocess.PIPE,
                             stderr=err, text=True)
    timer = threading.Timer(JVM_DEADLINE_S, p.kill)
    timer.start()
    ready, last = None, None
    try:
        for line in p.stdout:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if obj.get("event") == "ready" and ready is None:
                ready = time.perf_counter() - t0
            last = obj
        code = p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
        p.wait()
    if code != 0 or ready is None:
        tail = Path(log).read_text(errors="replace")[-3000:]
        raise BenchError(f"harness exited with {code}:\n{tail}")
    return ready, last


def normalise(df):
    """tools/check_correctness.py's canonical form: columns sorted by name,
    timestamps as ISO text, floats rounded to 6 places, the rest str()."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = pd.to_datetime(col).dt.tz_localize(None)
            out[c] = col.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            out[c] = col.round(6).map(lambda v: f"{v:.6f}")
        else:
            out[c] = col.astype(str)
    return out


def digest(df):
    """Row count, column names and a hash of the normalised rows in order."""
    n = normalise(df)
    h = hashlib.sha256("\x1f".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return {"rows": len(n), "columns": list(n.columns), "sha256": h.hexdigest()}


def check(verify_dir, queries):
    """Number of queries whose written result differs from the oracle."""
    import pandas as pd
    expected = json.loads((HERE / "oracle" / "digests.json").read_text())
    bad = 0
    for q in queries:
        try:
            got = digest(pd.read_parquet(verify_dir / q))
        except Exception as e:  # a missing or unreadable result fails
            print(f"[perfbench] {q}: result unreadable: {e}", file=sys.stderr)
            bad += 1
            continue
        if got != expected.get(q):
            print(f"[perfbench] {q}: result differs from the oracle "
                  f"({got['rows']} rows)", file=sys.stderr)
            bad += 1
    return bad


def run(workload, seed, seconds, trace):
    queries = workloads()[workload]
    build()
    work = RUNS / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    breakdown = OUT / f"{workload}-seed{seed}.jsonl"
    if trace:
        OUT.mkdir(exist_ok=True)
    try:
        setup_s, res = launch(work, [
            "--mode", "run", "--queries", ",".join(queries),
            "--data", data_dir(),
            "--seed", str(seed), "--seconds", str(seconds),
            "--passes", str(PASSES), "--trace", "1" if trace else "0",
            "--verify-dir", str(work / "verify"), "--breakdown", str(breakdown)],
            work / "jvm.log")
        if res is None or res.get("event") != "result":
            raise BenchError("harness printed no result")
        mismatched = check(work / "verify", queries)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if RUNS.is_dir() and not any(RUNS.iterdir()):
            RUNS.rmdir()
    res["setup_s"] = setup_s
    if trace:
        # A layer a workload never touches (streams, say) reads 0.
        layers = res.pop("layers")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in metric_units("per_layer").items()}
        with open(breakdown, "a") as f:
            f.write(json.dumps({"summary": res}) + "\n")
    else:
        metrics = {k: {"value": res[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    return {"correct": True,
            "attempted": res["executions"] + len(queries),
            "failed": res["failed"] + mismatched,
            "metrics": metrics}, res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A terminated run still kills its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.workload not in workloads():
            raise BenchError(f"unknown workload {a.workload}")
        out, detail = run(a.workload, a.seed, a.seconds, a.trace == 1)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps({"detail": detail}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
