#!/usr/bin/env python3
"""Build the library and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds with sbt (offline),
packs the compiled classes into jars and records a class-data-sharing
archive from a small training run. It caches the classpath and the archive
under perfbench/.build, keyed by a hash of every source and build file;
later runs start the JVM directly with the archive. Extra arguments
(--sf) pass through to perfbench.Main. Run-time files live
under perfbench/.work and are removed at exit; spans and input records go
to perfbench/out. The last line of stdout is the JSON result.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
            os.path.abspath(__file__)]
    for top in tops:
        paths = []
        if os.path.isdir(top):
            for d, _, fs in os.walk(top):
                paths += [os.path.join(d, f) for f in fs]
        elif os.path.isfile(top):
            paths = [top]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, tmp, jvm_flags, args):
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-Dspark.ui.enabled=false",
             # JVM log lines go to stderr, so stdout ends with the JSON line
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_flags
            + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"] + args)


def pack_jars(cp):
    """Class-data sharing accepts only jars on the classpath: packs each
    classes directory into a jar under .build/jars."""
    out = []
    for i, p in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(p):
            jar = os.path.join(BUILD, "jars", "classes-%d.jar" % i)
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(p)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), p))
            p = jar
        out.append(p)
    return os.pathsep.join(out)


def train(cp):
    """Records the classes a small dashboard_reads run loads into a
    class-data-sharing archive, which saves each run most of the JVM's
    class loading. The archive is an optimization only: without it the
    runs are the same, just slower to start."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, os.path.join(work, "tmp"), ["-XX:ArchiveClassesAtExit=" + ARCHIVE],
                   ["--workload", "dashboard_reads", "--seed", "1", "--seconds", "1",
                    "--trace", "0", "--sf", "0.001", "--work", work,
                    "--out", os.path.join(work, "out")])
    proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                          stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build():
    """Returns the runtime classpath, building first if the tree changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no library sources under src/main/scala; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = pack_jars(cp)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def _interrupt(signum, frame):
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, _interrupt)
    cp = build()
    work = os.path.join(BENCH, ".work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, tmp, ["-XX:SharedArchiveFile=" + ARCHIVE],
                   sys.argv[1:] + ["--work", work, "--out", os.path.join(BENCH, "out")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except (subprocess.TimeoutExpired, KeyboardInterrupt) as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
        sys.stderr.write("perfbench: run %s, JVM killed\n" % (
            "exceeded %d s" % RUN_TIMEOUT_S if isinstance(e, subprocess.TimeoutExpired)
            else "interrupted"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
