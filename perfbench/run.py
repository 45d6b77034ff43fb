#!/usr/bin/env python3
"""Build and run the graft benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run builds the program's sources together with the benchmark
driver (sbt, offline) into .bench_build/, and later runs reuse the build
while the sources are unchanged. The driver prints a report and, as its
last line, one JSON object with the result. The exit code is the driver's:
non-zero when an output check failed or the run could not start.
"""

import argparse
import ctypes
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

WORKLOADS = ("trend_live", "corpus_dedup", "stream_rollup")
BUILD_TIMEOUT_S = 850
# a run's time beyond --seconds: start-up, set-up, the minimum operation
# count and the checks; a traced run makes up to three times as many operations
RUN_MARGIN_S = {"0": 160, "1": 300}
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    """Digest of every file the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    files = [root / "perfbench" / "build.sbt", root / "perfbench" / "project" / "build.properties"]
    for d in (root / "src" / "main" / "scala", root / "perfbench" / "src" / "main" / "scala"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def die_with_parent():
    """In the child before exec: get SIGKILL when this script dies, so a
    run killed from outside leaves no JVM behind (Linux; a no-op elsewhere)."""
    try:
        ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def run_child(cmd, timeout, **kw):
    """Run a process in its own group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, preexec_fn=die_with_parent, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s", 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def jar_signature(cp):
    """Size and time of the driver jar: the class-data sharing archive is
    only valid for the jar it was recorded against."""
    jar = pathlib.Path(cp.split(os.pathsep)[0])
    st = jar.stat() if jar.is_file() else None
    return f" {jar} {st.st_size} {st.st_mtime_ns}" if st else " missing"


def java_cmd(cp, out, *extra):
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={out / 'tmp'}", "-Xlog:all=warning:stderr"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + list(extra) + ["-cp", cp, "perfbench.Main"])


def build(root, out):
    """Compile program and driver into a jar, record the class-data sharing
    archive of a training run, and return the runtime classpath."""
    stamp, cp_file = out / "build.stamp", out / "classpath.txt"
    digest = sources_digest(root)
    if stamp.exists() and cp_file.exists():
        cp = cp_file.read_text().strip()
        if stamp.read_text() == digest + jar_signature(cp):
            return cp
    stamp.unlink(missing_ok=True)
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    code, text = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=root / "perfbench", env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(text[-4000:] if code else "")
    if code != 0:
        fail("build failed", 4)
    cp = [line for line in text.splitlines() if line and not line.startswith("[")][-1]
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    archive = out / "classes.jsa"
    archive.unlink(missing_ok=True)
    code, text = run_child(
        java_cmd(cp, out, f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off",
                 "-Xlog:cds+dynamic=off") + ["--train", "--out", str(out)],
        BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(text[-4000:])
        fail("training run failed", 4)
    cp_file.write_text(cp)
    stamp.write_text(digest + jar_signature(cp))
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark 4.1 install")
    out = root / ".bench_build"
    cp = build(root, out)
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    # the defaults are what gets measured: no streaming-state overrides
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (java_cmd(cp, out, f"-XX:SharedArchiveFile={out / 'classes.jsa'}")
           + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--out", str(out)])
    code, _ = run_child(cmd, a.seconds + RUN_MARGIN_S[a.trace], env=env)
    sys.exit(code)


if __name__ == "__main__":
    main()
