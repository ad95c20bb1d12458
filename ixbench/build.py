"""Build of the benchmark.

    python3 ixbench/build.py

runs sbt once in `ixbench/harness`, whose small build compiles the harness
against the repository's own sbt project (loaded as a source dependency, so
the engine is built exactly as `sbt compile` builds it), and prints the
classpath to run the harness with. The classpath and the JVM options Spark's
launcher would add (`JavaModuleOptions`) are kept in
`ixbench/.build/launch.json`; sbt runs again only when a source or build
file is newer than that file, so no build tool runs in a benchmark run once
the tree is built.
"""

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HERE, ".build", "launch.json")
# what the build reads: sources and build definitions of engine and harness
INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
          os.path.join(HARNESS, "src"), os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project")]


class BuildError(Exception):
    pass


def files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        for d, dirs, names in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            yield from (os.path.join(d, n) for n in names)


def source_digest():
    """Digest of every build input, for a run's fingerprint."""
    h = hashlib.sha256()
    for p in sorted(files(INPUTS)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Build if needed; returns (classpath, JVM options)."""
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= max(map(os.path.getmtime, files(INPUTS))):
        with open(LAUNCH) as f:
            launch = json.load(f)
        return launch["classpath"], launch["jvm_options"]
    print("ixbench: building engine and harness with sbt", file=log, flush=True)
    try:
        # offline: everything the build needs is in the local caches
        r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                            "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           cwd=HARNESS, env=dict(os.environ, COURSIER_MODE="offline"), stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.SubprocessError) as e:
        raise BuildError(f"sbt did not run: {e}")
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        raise BuildError("sbt failed:\n" + (r.stdout + r.stderr)[-4000:])
    cp = lines[-1]
    opts = subprocess.run(["java", "-cp", cp, "ixbench.JvmOptions"], capture_output=True, text=True, timeout=60)
    if opts.returncode != 0:
        raise BuildError("ixbench.JvmOptions failed:\n" + opts.stderr[-2000:])
    launch = {"classpath": cp, "jvm_options": opts.stdout.split()}
    os.makedirs(os.path.dirname(LAUNCH), exist_ok=True)
    with open(LAUNCH, "w") as f:
        json.dump(launch, f)
    return cp, launch["jvm_options"]


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"ixbench build: {e}")
