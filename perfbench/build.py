"""Build file of the benchmark: compiles graft's main sources together with
the benchmark driver (perfbench/src) into one jar.

It uses the Scala compiler that ships with the Spark distribution graft
builds against (`$SPARK_HOME/jars`, the jars the root build.sbt uses as
its unmanaged base), so building needs no dependency resolution. Classes
are rebuilt only when a source file changed, and packed into a jar because
the JVM shares classes across runs from jars only (see run.py).

    python3 perfbench/build.py            # builds .bench_build/graft-bench.jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "graft-bench.jar"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution graft builds against")
    return Path(home)


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not (main / "graft").is_dir():
        raise SystemExit(f"perfbench: no graft sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def cds(workload):
    """Class-sharing archive of the classes a `workload` run loads; stale
    once the jar changes (see run.py)."""
    return BUILD / f"classes-{workload}.jsa"


def classpath():
    return f"{spark_home() / 'jars'}/*"


def build():
    """Compile if stale; returns the jar and the source digest."""
    srcs = sources()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest and JAR.exists():
        return JAR, digest
    for stale in [stamp, JAR, *BUILD.glob("classes-*.jsa")]:
        stale.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    cp = classpath()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", cp, "-d", str(classes), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed (rc {proc.returncode})")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    stamp.write_text(digest)
    return JAR, digest


if __name__ == "__main__":
    print(build()[0])
