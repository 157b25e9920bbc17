#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload knn-batch --seed 1 --seconds 6 --trace 0

The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt depends on the program's own build one
directory up); later runs reuse the build until a source file changes. Outputs go under $CARGO_TARGET_DIR (default .bench_build) in the
checkout: the classpath, per-run result and span files, Spark scratch space
and the JVM's stderr log.

Extra flags for the self-test: --tiny (small sizes), --corrupt (swap two
labels in one kNN result, which the output check must catch).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("knn-batch", "knn-serve", "pipeline")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base) if not os.path.isabs(base) else base


def sources_digest():
    """Digest of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)] + \
        [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out):
    """Compile with sbt once per source state; return the runtime classpath."""
    stamp = os.path.join(out, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved_digest, cp = f.read().split("\n", 1)
        if saved_digest == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", *opts, "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")
    data = os.path.join(HERE, "data", "sf0.01")
    out = out_dir()
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cp = build(out)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", data, "--out", out]
    if a.tiny:
        cmd.append("--tiny")
    if a.corrupt:
        cmd.append("--corrupt")
    env = dict(os.environ, PERFBENCH_COMMIT=git_commit())
    err_path = os.path.join(out, f"stderr-{tag}.log")
    result = None
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)

        def stop(*_):
            # the JVM runs in its own session; take it down with us
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(1)))
        try:
            outs, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"{tag} did not finish within {RUN_TIMEOUT_S} s; see {err_path}")
        for line in outs.splitlines():
            if line.startswith('{"correct"'):
                result = line
            else:
                print(line)
    if p.returncode != 0 or result is None:
        with open(err_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        fail(f"{tag} failed (exit {p.returncode}); see {err_path}")
    json.loads(result)
    print(result, flush=True)


if __name__ == "__main__":
    main()
