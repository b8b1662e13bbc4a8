"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the harness (`perfbench/src`) into `.bench_build/classes`
with the Scala compiler that ships in the Spark distribution's jars, the
same jars the repo's own build compiles against. No sbt, no network.

    python3 perfbench/build.py        # from the repo root

A rebuild happens only when a source file changed (content hash)."""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not list(jars.glob("spark-core_2.13-*.jar")):
        sys.exit(f"build: no Spark 2.13 jars under {jars}")
    return jars


def sources() -> list:
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        sys.exit(f"build: source directories missing: {', '.join(missing)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_hash(files) -> str:
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build() -> str:
    """Compile if needed; returns the source hash the classes were built from."""
    files = sources()
    digest = source_hash(files)
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return digest
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        sys.exit("build: scalac failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(digest)
    return digest


if __name__ == "__main__":
    print(build())
