#!/usr/bin/env python3
"""Benchmark entry point: real `Pixetl.run` jobs timed from outside.

    python3 perfbench/run.py --workload raster_aligned --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the repository's
sources together with the harness (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. Inputs are
generated from the seed into .benchdata/perfbench/ and reused while their
checksums hold. The last line of stdout is the result record.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".benchdata", "perfbench")
REPO_SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["raster_aligned", "raster_warp_mosaic", "vector_burn"]
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [REPO_SOURCES, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
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


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, no sbt server, and sbt's scratch files under .bench_build/;
    # JAVA_TOOL_OPTIONS also reaches the launcher's own `java -version` probe
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    with open(log) as f:
        cps = [l.strip() for l in f if l.startswith(classes)]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(cp, workload, seed, seconds, trace, self_test=False):
    """One benchmark JVM; returns its result record (dict) or None."""
    for d in ("logs", "tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}{'-selftest' if self_test else ''}"
    out = os.path.join(BUILD, f"result-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", DATA, "--out", out,
        "--self-test", "1" if self_test else "0",
    ]
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_FEATURES", "GRAFT_JDBC_URL")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    with open(log, "w") as f:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=f,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if self_test:
        with open(log) as f:
            sys.stdout.write("".join(l for l in f if l.startswith("self-test")))
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: JVM exit {rc}; see {log}", file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def self_test(cp):
    """Checks reject corrupted outputs; records carry exactly the declared metrics."""
    ok = True
    for w in WORKLOADS:
        rec = run_jvm(cp, w, 7, 1, 0, self_test=True)
        ok &= bool(rec and rec["correct"] and rec["failed"] == 0)
    spec = benchmark_spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        rec = run_jvm(cp, WORKLOADS[0], 7, 1, trace)
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in (rec or {}).get("metrics", {}).items()}
        same = got == want
        print(f"self-test record --trace {trace}: {'ok' if same else 'FAILED'}"
              + ("" if same else f" (extra {sorted(set(got) - set(want))},"
                                 f" missing {sorted(set(want) - set(got))})"))
        ok &= same and bool(rec["correct"])
    print(f"self-test: {'passed' if ok else 'FAILED'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO_SOURCES, "graft", "Pixetl.scala")):
        fail(f"repository sources not found under {REPO_SOURCES}")
    if not a.self_test and not a.workload:
        fail("--workload is required")
    cp = build()
    if a.self_test:
        return self_test(cp)
    t0 = time.time()
    rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    if rec is None:
        return 1
    print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace} host {json.dumps(rec.get('host'))}"
          f" wall {time.time() - t0:.1f}s")
    for msg in rec.get("failures", []):
        print(f"perfbench: check failed: {msg}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
