#!/usr/bin/env python3
"""Run one ragbench workload from the root of a graft checkout.

    python3 ragbench/run.py --workload sync|bulk --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark from the checkout's sources with sbt on
first use (or when a source changed), then runs the benchmark in one
JVM. The last stdout line is the JSON result; everything else the run
records goes to .ragbench_out/. Exit codes: 0, the correctness gate
passed; 1, a check or an op failed (the JSON line says so); 2, bad
arguments, not a graft checkout or a failed build; 3, the run overran;
4, the run threw before it had a result. Only 0 and 1 print a result.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".ragbench_build")
SOURCES = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
           os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


_child = None


def _run(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it. On a timeout,
    or when this script is told to stop, the whole group is killed, so
    no JVM outlives the run."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        _kill_child()
        return None, None
    finally:
        _child = None


def _kill_child():
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()


def _on_signal(signum, frame):
    _kill_child()
    sys.exit(128 + signum)


def fail(msg, code=2):
    print(f"ragbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input, so a changed source forces a rebuild."""
    h = hashlib.sha1()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    return env


def build():
    """Returns the runtime classpath, building first when needed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    print("ragbench: building graft and the benchmark with sbt",
          file=sys.stderr)
    code, out = _run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code is None:
        fail(f"sbt build exceeded {BUILD_TIMEOUT_S} s")
    sys.stderr.write(out[-4000:])
    if code != 0:
        fail(f"sbt build failed with exit code {code}")
    lines = [l.strip() for l in out.splitlines()
             if l.strip().endswith(".jar") or os.pathsep in l]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main(argv):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                           "graft"))):
        fail("run from the root of a graft checkout: build.sbt and "
             "src/main/scala/graft are missing")
    for need in ("--workload", "--seed", "--seconds", "--trace"):
        if need not in argv:
            fail(f"missing {need}")
    workload = argv[argv.index("--workload") + 1:][:1]
    if workload not in (["sync"], ["bulk"]):
        fail("--workload takes sync or bulk")
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH")
    cp = build()
    cmd = ([java, "-Xmx3g"] +
           [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(ROOT, ".ragbench_work", "tmp"),
            "-cp", cp, "ragbench.Main"] + argv)
    os.makedirs(os.path.join(ROOT, ".ragbench_work", "tmp"), exist_ok=True)
    # Spark would put its scratch space under SPARK_LOCAL_DIRS, outside
    # the checkout; the benchmark keeps it in its working directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    code, _ = _run(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    return code


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    sys.exit(main(sys.argv[1:]))
