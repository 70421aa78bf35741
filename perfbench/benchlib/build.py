"""Build the engine and the harness from the checkout's sources (sbt,
offline) once, and cache the resolved runtime classpath and the JVM
options of the engine's build. Later runs launch the JVM directly with
them; a change to any source or build file triggers a rebuild."""

import hashlib
import json
import os
import subprocess
import sys


def _sources(root):
    """Every file the build reads: the engine's main sources and build
    definition, and the harness."""
    paths = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(root, "perfbench", "build.sbt")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(root, "perfbench", "src")):
        for d, _, fs in os.walk(top):
            paths.extend(os.path.join(d, f) for f in fs)
    return sorted(p for p in paths if os.path.isfile(p))


def stamp(root):
    h = hashlib.sha256()
    for p in _sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env(build_dir):
    """Offline sbt whose global state (boot, staging) lives in the build
    directory instead of the home directory."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure(root, build_dir, timeout_s):
    """The runtime classpath and JVM options, building first if the
    sources changed."""
    cache = os.path.join(build_dir, "launch.json")
    want = stamp(root)
    if os.path.isfile(cache):
        with open(cache) as f:
            have = json.load(f)
        if have["stamp"] == want:
            return have["classpath"], have["java_options"]
    print("[perfbench] building the engine and the harness (sbt)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "print javaOptions"],
        cwd=os.path.join(root, "perfbench"), env=sbt_env(build_dir),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=timeout_s)
    sys.stderr.write(r.stdout[-4000:])
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (sbt exit {r.returncode})")
    lines = r.stdout.splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln and ".jar" in ln]
    # `print` lists a sequence one element a line, each after "* "
    opts = [ln[2:].strip() for ln in lines if ln.startswith("* ")]
    if not cps or not opts:
        raise SystemExit("[perfbench] build printed no classpath or JVM options")
    launch = {"stamp": want, "classpath": cps[-1].strip(), "java_options": opts}
    os.makedirs(build_dir, exist_ok=True)
    with open(cache, "w") as f:
        json.dump(launch, f)
    return launch["classpath"], launch["java_options"]


def java_cmd(cp, options, work):
    """The harness's JVM: the engine build's options, then a 3 GB heap (a
    later -Xmx wins) and this run's directories."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, *options, "-Xmx3g",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "graftbench.Main"]
