"""Builds the engine and the benchmark's JVM program with sbt, once per
source state, and launches that JVM directly (no sbt start per run)."""
import ctypes
import glob
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
# heap of the benchmarked JVM: fixed, so heap_peak_mb compares across hosts
HEAP = "-Xmx3g"


class RunError(RuntimeError):
    pass


def _sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for base in (ROOT, HERE):
        for pattern in ("*.sbt", os.path.join("project", "*.sbt"),
                        os.path.join("project", "*.scala"),
                        os.path.join("project", "build.properties")):
            yield from glob.glob(os.path.join(base, pattern))


def _stamp():
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(log):
    """Return (classpath, jvm options), building first if any source
    changed since the last build in this checkout."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise RunError("engine sources (build.sbt, src/main/scala/graft) "
                       "not found next to perfbench/")
    stamp = _stamp()
    if not (os.path.exists(SPEC) and os.path.exists(STAMP)
            and open(STAMP).read() == stamp):
        log("building the engine and the benchmark JVM program with sbt")
        log_path = os.path.join(HERE, "target", "build.log")
        os.makedirs(os.path.dirname(log_path), exist_ok=True)
        with open(log_path, "w") as logf:
            rc = _run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "-Dsbt.server.forcestart=false", "launchSpec"],
                      700, logf, cwd=HERE, env=sbt_env())
        if rc != 0 or not os.path.exists(SPEC):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RunError(f"sbt build failed (exit {rc})")
        with open(STAMP, "w") as f:
            f.write(stamp)
    lines = [x for x in open(SPEC).read().split("\n") if x]
    return lines[0], lines[1:]


def _die_with_parent():
    # PR_SET_PDEATHSIG: the child is killed if this process dies first
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def _run(cmd, timeout, logf, **kw):
    """Run `cmd` in its own process group with output to `logf`; on
    timeout kill the whole group, wait for it, and raise RunError."""
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                         start_new_session=True, preexec_fn=_die_with_parent, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RunError(f"{cmd[0]} still running after {timeout} s; killed")


def run_jvm(classpath, jvm_opts, conf_path, work, timeout):
    """Run perfbench.Main on a config file; Spark's scratch space and the
    JVM temp dir stay inside `work`."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java"] + jvm_opts + [HEAP, f"-Djava.io.tmpdir={tmp}",
                                  "-cp", classpath, "perfbench.Main", conf_path])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        return _run(cmd, timeout, logf, env=env, cwd=work)
