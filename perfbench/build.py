"""Build file of the benchmark: compiles the program (``src/main/scala``)
and the benchmark's JVM harness (``perfbench/harness``) with the Scala
compiler that ships in Spark's jar directory, into
``.bench_build/scala-<source hash>/`` of the checkout. A build whose
sources are unchanged is reused.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "harness"]

# Matches org.apache.spark.launcher.JavaModuleOptions: Spark on JDK 17
# outside spark-submit needs these.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the
    spark-submit on PATH, else the jars bundled with an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(submit).resolve().parent.parent / "jars")
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(Path(spec.origin).parent / "jars")
    except ImportError:
        pass
    for c in cands:
        jars = sorted(glob.glob(str(c / "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    raise BuildError("no Spark jar directory with a Scala compiler found")


def _sources():
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def ensure(quiet=False):
    """Return the class directory, compiling first if needed."""
    files = _sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(Path(next(j for j in jars if "scala-compiler" in j)).name.encode())
    build_root = ROOT / ".bench_build"
    out = build_root / f"scala-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").exists():
        return out
    tmp = build_root / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(jars)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{argfile}"]
    if not quiet:
        print(f"[build] compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    argfile.unlink()
    (tmp / "BUILD_OK").write_text("ok\n")
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def classpath(classes):
    return os.pathsep.join([str(classes)] + spark_jars())


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
