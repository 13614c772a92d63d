#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source if needed, runs one
workload in a fresh JVM, and relays its result line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload service --seed 1 --seconds 20 --trace 0

Workloads: service, library (see perfbench/README.md). The last line of
stdout is the JSON result. `--record-fingerprints` (library only) rewrites
perfbench/fingerprints.json from the warm-up pass instead of checking
against it. The service workload's base corpus is built once per version of
the sources, in a JVM of its own before the timed one, under
perfbench/.work/cache/base-<source hash>.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
WORKLOADS = ("service", "library")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source file's path (relative to the checkout) and
    contents: it keys both the build and the base corpus."""
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            with open(p, "rb") as f:
                data = f.read()
            h.update(f"{os.path.relpath(p, ROOT)}\0{len(data)}\n".encode())
            h.update(data)
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(stamp):
    """Compile the program and the benchmark; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines() if l.startswith(os.path.join(HERE, "target"))]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java(cp, name, args, timeout):
    """Run perfbench.Main in a fresh JVM whose scratch files stay under
    .work/<name>, removed afterwards; returns (exit code, stdout)."""
    run_dir = os.path.join(WORK, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    jvm = ["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}"]
    for o in JVM_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    proc = subprocess.Popen(jvm + ["-cp", cp, "perfbench.Main"] + args, cwd=run_dir,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{name} did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out


def ensure_corpus(cp, stamp):
    """The service's base corpus for these sources, built if missing in an
    untimed JVM of its own. Keyed by the source hash, so a change to ingest
    or the warehouse layout is never measured against another version's
    files."""
    cache = os.path.join(WORK, "cache")
    corpus = os.path.join(cache, f"base-{stamp[:16]}")
    if not os.path.isdir(corpus):
        # corpora of other source versions, and interrupted builds, go
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache)
        code, out = java(cp, "corpus", ["--build-corpus", corpus], BUILD_TIMEOUT_S)
        if code != 0 or not os.path.isdir(corpus):
            sys.stdout.write(out)
            fail(f"building the base corpus exited with {code}")
    return corpus


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Sentinel.scala")) \
            or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("run from a checkout of the repository: its sources are missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if spark_home() is None:
        fail("set SPARK_HOME, or put Spark's spark-submit on PATH")

    stamp = source_stamp()
    cp = build(stamp)
    # every workload makes sure of the corpus, so the first run in a
    # checkout, whichever workload it is, pays for it
    corpus = ensure_corpus(cp, stamp)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(WORK, "run"), "--corpus", corpus,
            "--data", os.path.join(HERE, "data"),
            "--fingerprints", os.path.join(HERE, "fingerprints.json")]
    if a.record_fingerprints:
        args.append("--record-fingerprints")
    code, out = java(cp, "run", args, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"{a.workload} exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    # BENCHMARK.json is the authoritative metric list; the program's must match it
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace == "1" else "end_to_end"]
    want = [(m["name"], m["unit"]) for m in declared]
    got = [(k, v["unit"]) for k, v in result["metrics"].items()]
    if got != want:
        fail(f"metrics {got} differ from BENCHMARK.json's {want}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
