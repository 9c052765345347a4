"""Offline build of the program and of the benchmark's harness.

Both are compiled with the Scala compiler shipped in the Spark jar
directory, straight into `.bench_build/` of the checkout. A build is
skipped when a stamp (a hash of every source file and of the compiler
jars) says the classes are current. A file lock keeps two concurrent
runs from building at once.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS
             for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def _sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"),
                            recursive=True))


def _compiler_cp():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13*.jar")))
        if not found:
            raise RuntimeError(f"no {name} jar in {SPARK_JARS}")
        jars.append(found[-1])
    return jars


def _stamp(files, extra):
    h = hashlib.sha256()
    for f in files + extra:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(files, cp, out, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(_compiler_cp()),
            "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp]
           + files)
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"scalac failed ({rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def ensure(root, build_dir):
    """Compile what is stale; return the runtime classpath."""
    prog_src = _sources(root, "src/main/scala")
    harness_src = _sources(root, "perfbench/harness")
    if not prog_src:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    if not harness_src:
        raise RuntimeError("no harness sources")
    os.makedirs(build_dir, exist_ok=True)
    prog = os.path.join(build_dir, "classes")
    harness = os.path.join(build_dir, "harness")
    jars = os.path.join(SPARK_JARS, "*")
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        res = os.path.join(root, "src/main/resources")
        res_files = sorted(p for p in glob.glob(os.path.join(res, "**"),
                                                recursive=True)
                           if os.path.isfile(p))
        stamp = _stamp(prog_src + res_files, _compiler_cp())
        stamp_file = os.path.join(build_dir, "classes.stamp")
        if not (os.path.isdir(prog) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            print("[perfbench] compiling the program", file=sys.stderr)
            _compile(prog_src, jars, prog, os.path.join(build_dir, "scalac.log"))
            for f in res_files:
                dst = os.path.join(prog, os.path.relpath(f, res))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(f, dst)
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
        hstamp = _stamp(harness_src, [stamp_file])
        hstamp_file = os.path.join(build_dir, "harness.stamp")
        if not (os.path.isdir(harness) and os.path.exists(hstamp_file)
                and open(hstamp_file).read() == hstamp):
            print("[perfbench] compiling the harness", file=sys.stderr)
            _compile(harness_src, f"{prog}:{jars}", harness,
                     os.path.join(build_dir, "scalac-harness.log"))
            with open(hstamp_file, "w") as fh:
                fh.write(hstamp)
    return f"{harness}:{prog}:{jars}"
