#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft from the checkout's sources (src/main/scala plus
src/main/resources) and then the benchmark harness (perfbench/scala) with
the Scala compiler that ships in Spark's jars — no sbt, nothing written
outside the build directory — and packs each into a jar. It then records a
class-data-sharing archive (JDK AppCDS) from one tiny-scale training run of
every workload, which cuts JVM and Spark start-up in every later run; a
failed training run only leaves the archive out. Each step reruns only when
a hash of its inputs changes.

Usage: python3 perfbench/build.py [build_dir]   (default: $CARGO_TARGET_DIR
or .bench_build). Prints the runtime classpath on success.
"""
import hashlib
import re
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TRAINING_TIMEOUT_S = 400


class BuildError(Exception):
    pass


def java_command(classpath, archive=None, dump=False):
    """The JVM command line every benchmark run uses (plus the main class)."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=640m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    if archive is not None:
        cmd.append(f"-XX:{'ArchiveClassesAtExit' if dump else 'SharedArchiveFile'}={archive}")
    return cmd + ["-cp", classpath]


def _sources(root, suffix=".scala"):
    if not root.is_dir():
        raise BuildError(f"missing source directory: {root}")
    files = sorted(p for p in root.rglob("*") if p.is_file() and p.name.endswith(suffix))
    if not files:
        raise BuildError(f"no {suffix} sources under {root}")
    return files


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _fresh(target, stamp):
    s = target.with_name(target.name + ".stamp")
    return target.exists() and s.is_file() and s.read_text() == stamp


def _stamp(target, stamp):
    target.with_name(target.name + ".stamp").write_text(stamp)


def _spark_jars(checkout):
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = checkout / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m is None:
        raise BuildError("cannot find Spark's jars: set SPARK_HOME")
    return Path(m.group(1))


def _compile(sources, classpath, jar, stamp, spark_jars, resources=None):
    """Compiles `sources` into `jar` (with the files under `resources`)."""
    if _fresh(jar, stamp):
        return
    classes = jar.with_suffix(".classes")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    log = jar.with_suffix(".log")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars}/*",
           "-Dscala.usejavacp=true", "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", str(classes)] + [str(s) for s in sources]
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise BuildError(f"scalac failed for {jar.name} (log: {log})")
    roots = [classes] + ([resources] if resources is not None and resources.is_dir() else [])
    tmp = jar.with_suffix(".jar.part")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for root in roots:
            for f in sorted(p for p in root.rglob("*") if p.is_file()):
                z.write(f, f.relative_to(root).as_posix())
    tmp.replace(jar)
    shutil.rmtree(classes, ignore_errors=True)
    _stamp(jar, stamp)


def _train(checkout, build_dir, classpath, archive, stamp):
    """Records the CDS archive from a tiny run of every workload."""
    if _fresh(archive, stamp):
        return True
    archive.unlink(missing_ok=True)
    tmp = build_dir / "training"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = java_command(classpath, archive, dump=True) + [
        f"-Djava.io.tmpdir={tmp}", "perfbench.Main", "--workload", "all", "--scale", "smoke",
        "--seed", "1", "--seconds", "1", "--trace", "1",
        "--tmp", str(tmp), "--out", str(tmp / "result.json")]
    try:
        with open(build_dir / "training.log", "w") as fh:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=checkout,
                               timeout=TRAINING_TIMEOUT_S)
        ok = r.returncode == 0 and archive.is_file()
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(tmp, ignore_errors=True)
    if ok:
        _stamp(archive, stamp)
    else:
        archive.unlink(missing_ok=True)
        sys.stderr.write(f"[perfbench] CDS training run failed (see {build_dir / 'training.log'}); "
                         "running without the archive\n")
    return ok


def build(checkout, build_dir):
    """Returns (runtime classpath, CDS archive path or None); raises BuildError."""
    checkout = Path(checkout).resolve()
    build_dir = (checkout / build_dir).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    spark_jars = _spark_jars(checkout)
    if not spark_jars.is_dir():
        raise BuildError(f"Spark jars not found at {spark_jars} (set SPARK_HOME)")
    spark_cp = f"{spark_jars}/*"

    engine_src = _sources(checkout / "src" / "main" / "scala")
    resources = checkout / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    engine_stamp = _digest(engine_src + res_files)
    engine = build_dir / "engine.jar"
    _compile(engine_src, spark_cp, engine, engine_stamp, spark_jars, resources)

    bench_src = _sources(checkout / "perfbench" / "scala")
    bench_stamp = _digest(bench_src, engine_stamp)
    bench = build_dir / "bench.jar"
    _compile(bench_src, f"{engine}:{spark_cp}", bench, bench_stamp, spark_jars)

    classpath = f"{bench}:{engine}:{spark_cp}"
    archive = build_dir / "app.jsa"
    # the archive is only valid for the same jars and JVM flags
    archive_stamp = _digest([], bench_stamp + " ".join(java_command(classpath)))
    trained = _train(checkout, build_dir, classpath, archive, archive_stamp)
    return classpath, (archive if trained else None)


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    try:
        print(build(Path.cwd(), target)[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
