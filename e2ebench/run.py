#!/usr/bin/env python3
"""End-to-end benchmark of the library's user paths on one warm local
SparkSession.

    python3 e2ebench/run.py --workload search|analyze_ingest|analyze|ingest --seed N \
        --seconds S --trace 0|1 [--data SF_DIR]

Run from the root of a checkout. The first run builds the library and the
benchmark driver with sbt (e2ebench/build.sbt) and checks every analyze
query against its DuckDB twin, once per source state and data directory;
later runs reuse both. Everything the
runs write goes under .bench_build/e2ebench. The last line of standard
output is one JSON object: correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "oracle.py")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    """Run to completion with output appended to `log`; kill on timeout."""
    with open(log, "a") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout}s; see {log}")


def java_cmd(root, work, classpath, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Lower JIT thresholds shorten the warm-up the time budget allows.
    return (["java", *opens, "-Xmx3g", "-XX:CompileThresholdScaling=0.2",
             f"-Djava.io.tmpdir={tmp}", f"-Dgraft.profile.path={root}/data/profile.json",
             "-cp", classpath, "e2ebench.Main", "--work", work, *args])


def build(root, work, stamp):
    """Compile once per source state; return the runtime classpath."""
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    log = os.path.join(work, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w"):
        pass
    rc = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                     "compile", "export Runtime/fullClasspath"],
                    log, 840, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "e2ebench" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def verify(root, work, classpath, data, stamp):
    """Check the analyze queries against DuckDB once per source state and
    data directory; return the file with the digests of those that match."""
    data = os.path.realpath(data)
    key = hashlib.sha256(data.encode()).hexdigest()[:16]
    verified = os.path.join(work, f"verified-{key}.json")
    stamp_file = verified + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return verified
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    import oracle
    log = os.path.join(work, "build.log")
    dump = os.path.join(work, "oracle", key)
    rc = run_logged(java_cmd(root, work, classpath, "--oracle-dump", dump, "--data", data),
                    log, 600)
    if rc != 0:
        fail(f"oracle dump failed (exit {rc}); see {log}")
    ok, bad = oracle.verify(data, dump, os.path.join(work, "duckdb-tmp"))
    for q, reason in sorted(bad.items()):
        print(f"e2ebench: {q} differs from its DuckDB twin: {reason}", file=sys.stderr)
    with open(verified, "w") as f:
        json.dump(ok, f, indent=1, sort_keys=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return verified


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "analyze_ingest", "analyze", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default="/root/testdata/sf0.1")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(a.data, "embeddings.parquet")):
        fail(f"no tables under {a.data}")
    work = os.path.join(root, ".bench_build", "e2ebench")
    os.makedirs(work, exist_ok=True)
    stamp = sources_digest(root)
    classpath = build(root, work, stamp)
    verified = verify(root, work, classpath, a.data, stamp)

    log = os.path.join(work, f"run-{a.workload}-{a.seed}-{a.trace}.log")
    cmd = java_cmd(root, work, classpath, "--workload", a.workload,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--data", a.data, "--verified", verified)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S}s; see {log}")
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"run failed (exit {p.returncode}); see {log}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
