"""Builds the program under test and the benchmark harness from source.

The program is every Scala file under the checkout's `src/main/scala`;
the harness is `perfbench/scala`. Both are compiled with the Scala
compiler that ships in Spark's jar directory, so the build needs no
build tool and no network. Each is packed into a jar, and one short
run of every workload then records the classes the JVM loads into a
class-data-sharing archive, which cuts every later run's JVM and Spark
start-up by seconds. Outputs go under `.bench_build/` and are reused
while the sources stay the same (content hash).

Usage as a script: `python3 perfbench/build.py` (from the repo root).
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
HEAP = "2g"
TRAIN_WORKLOADS = "batch-search,vector-sql"

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# repo's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's own build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("cannot find Spark's jars (set SPARK_HOME)")


def jvm_env(trace):
    """The harness JVM's environment: no inherited graft knobs or Spark
    directory overrides, so every run measures the defaults and writes
    only inside the checkout; the kernel counters only when tracing."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_DRIVER_MEM")}
    if trace:
        env["SPARK_GRAFT_SEARCH_PROFILE"] = "1"
    return env


def harness_command(classpath, tmp, args, archive=None, dump=None):
    """The java command line that runs perfbench.Main with `args`."""
    cmd = [java_bin(), "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"] + list(args)


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files, base, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(base)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(files, out, classpath, jars, tmp, log):
    staging = out.with_name(out.name + ".tmp")
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", classpath] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=800)
    if res.returncode != 0:
        log.write(res.stdout[-4000:])
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed ({res.returncode}) compiling into {out}")
    jar = out.with_suffix(".jar")
    part = jar.with_name(jar.name + ".tmp")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(staging.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(staging).as_posix())
    shutil.rmtree(staging, ignore_errors=True)
    part.replace(jar)
    return jar


def _train(classpath, out, key, log):
    """One short run of every workload with the class-data-sharing dump
    on. Best effort: without the archive, runs are only slower."""
    archive = out / "classes.jsa"
    archive.unlink(missing_ok=True)
    work = out / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    dump = out / "classes.jsa.tmp"
    cmd = harness_command(classpath, work / "tmp", [
        "--workload", TRAIN_WORKLOADS, "--seed", "0", "--seconds", "0.1", "--trace", "0",
        "--setups", "1", "--cores", str(len(os.sched_getaffinity(0))),
        "--work", str(work), "--out", str(work / "record.json")], dump=dump)
    log.write("perfbench: recording the class-data-sharing archive\n")
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             env=jvm_env(False), timeout=600)
        ok = res.returncode == 0 and dump.exists()
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if ok:
        dump.replace(archive)
        (out / "classes.jsa.stamp").write_text(key)
    else:
        dump.unlink(missing_ok=True)
        log.write("perfbench: class-data-sharing archive not recorded; runs start slower\n")


def ensure(root, log=sys.stderr):
    """Compile what changed and return (class path, class-data-sharing
    archive or None). Raises BuildError if the checkout holds no program
    sources or a compile fails."""
    root = Path(root).resolve()
    prog_src = root / "src" / "main" / "scala"
    prog_files = _sources(prog_src) if prog_src.is_dir() else []
    if not prog_files:
        raise BuildError(f"no program sources under {prog_src}")
    bench_src = HERE / "scala"
    bench_files = _sources(bench_src)
    if not bench_files:
        raise BuildError(f"no harness sources under {bench_src}")
    jars = spark_jars(root)
    out = root / ".bench_build"
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    prog_jar, bench_jar = out / "program.jar", out / "harness.jar"
    jar_list = ",".join(sorted(os.listdir(jars)))
    classpath = f"{bench_jar}:{prog_jar}:{jars}/*"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prog_key = _digest(prog_files, prog_src, jar_list)
        if _stamp(prog_jar) != prog_key:
            log.write(f"perfbench: compiling {len(prog_files)} program sources\n")
            _compile(prog_files, out / "program", f"{jars}/*", jars, tmp, log)
            _set_stamp(prog_jar, prog_key)
        bench_key = _digest(bench_files, bench_src, prog_key)
        if _stamp(bench_jar) != bench_key:
            log.write(f"perfbench: compiling {len(bench_files)} harness sources\n")
            _compile(bench_files, out / "harness", f"{prog_jar}:{jars}/*", jars, tmp, log)
            _set_stamp(bench_jar, bench_key)
        archive = out / "classes.jsa"
        if _stamp(archive) != bench_key:
            _train(classpath, out, bench_key, log)
    return classpath, (archive if archive.exists() else None)


def _stamp(f):
    p = f.with_name(f.name + ".stamp")
    return p.read_text() if p.exists() and f.exists() else None


def _set_stamp(f, key):
    f.with_name(f.name + ".stamp").write_text(key)


if __name__ == "__main__":
    try:
        print(ensure(Path.cwd())[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
