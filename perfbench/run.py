#!/usr/bin/env python3
"""Pipeline benchmark: streaming feed ingest, and a dashboard with batch
poll rounds over a pre-loaded commit log, run through the engine's public
entry points.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness from source with sbt
(offline) under .bench_build/perfbench; later runs reuse the build until a
source file changes. It prints a summary line and, as its last line, one
JSON object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1, each with the unit BENCHMARK.json declares for it. Traced runs
also write their spans to .bench_build/perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170

# sbt must never reach for the network: resolve from the local caches only.
SBT_FLAGS = [
    "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
    "-Dsbt.server.autostart=false",
    "-Dsbt.global.base=" + os.path.join(OUT, "sbt-global"),
]
REPOSITORIES = os.path.expanduser("~/.sbt/repositories")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(HERE, "src"), os.path.join(HERE, "project"), ENGINE):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return home


def build(spark):
    """Compile engine + harness once per source state; return the classpath.
    `Compile/products` also copies the resources, among them the service
    file that registers `format("graft")`."""
    stamp = os.path.join(OUT, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cp = classes + os.pathsep + os.path.join(spark, "jars", "*")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return cp
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    flags = list(SBT_FLAGS)
    if os.path.exists(REPOSITORIES):
        flags += ["-Dsbt.override.build.repos=true",
                  "-Dsbt.repository.config=" + REPOSITORIES]
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt"] + flags + ["Compile/products"], cwd=HERE, env=env,
                             stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: build failed (log in %s)" % log)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def declared_units(traced):
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def result(line, units):
    """The harness's result line with units added; None when its metrics
    are not exactly the declared ones."""
    r = json.loads(line)
    if set(r["metrics"]) != set(units):
        sys.stderr.write("perfbench: metrics differ from BENCHMARK.json: extra %s, missing %s\n"
                         % (sorted(set(r["metrics"]) - set(units)),
                            sorted(set(units) - set(r["metrics"]))))
        return None
    r["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in sorted(r["metrics"].items())}
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE, "scala", "graft", "engine", "Pipeline.scala")):
        sys.exit("perfbench: engine sources not found under %s; run from a "
                 "checkout of the repository" % ENGINE)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        sys.exit("perfbench: needs java and sbt on PATH")
    units = declared_units(a.trace == 1)
    cp = build(spark_home())

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=OUT)
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-dir", os.path.join(OUT, "traces")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    r = None
    if proc.returncode == 0 and lines and lines[-1].startswith("{"):
        r = result(lines[-1], units)
    if r is None:
        sys.stderr.write(out)
        sys.exit("perfbench: harness failed (exit %s)" % proc.returncode)
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    print("%s seed=%d attempted=%d failed=%d failed_frac=%.6g %s" % (
        a.workload, a.seed, r["attempted"], r["failed"], r["failed"] / r["attempted"],
        " ".join("%s=%.6g %s" % (k, m["value"], m["unit"]) for k, m in r["metrics"].items())))
    print(json.dumps(r))


if __name__ == "__main__":
    main()
