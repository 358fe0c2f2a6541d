"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into ``.bench_build/graftbench/graftbench.jar``.

    python3 graftbench/build.py

Uses the Scala compiler that ships among Spark's jars, so nothing is
resolved or downloaded and nothing is written outside the checkout. Spark
is found through ``SPARK_HOME``, then ``spark-submit`` on the PATH, then
the ``unmanagedBase`` the engine's ``build.sbt`` names. A build is skipped
when the sources and jars are unchanged since the last one.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "graftbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"


def spark_jars():
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(pathlib.Path(os.environ["SPARK_HOME"]) / "jars")
    exe = shutil.which("spark-submit")
    if exe:
        candidates.append(pathlib.Path(exe).resolve().parent.parent / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(pathlib.Path(m.group(1)))
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("graftbench: no Spark jars with a Scala compiler found")


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"graftbench: engine sources missing at {ENGINE_SRC}")
    return sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compile if needed; return the jar and the Spark jars directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs + sorted(x for x in ENGINE_RES.rglob("*") if x.is_file()):
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = digest.hexdigest()
    jar = OUT / "graftbench.jar"
    stamp_file = OUT / "stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar, jars
    shutil.rmtree(OUT, ignore_errors=True)
    tmp = OUT / "classes.tmp"
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print("graftbench: compiling %d sources" % len(srcs), file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit("graftbench: compilation failed")
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    with zipfile.ZipFile(OUT / "graftbench.jar.tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (OUT / "graftbench.jar.tmp").rename(jar)
    stamp_file.write_text(stamp)
    return jar, jars


if __name__ == "__main__":
    print(build()[0])
