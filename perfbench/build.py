"""Build step of the benchmark: compiles the program's sources and the
benchmark's own Scala harness into one class directory with the Scala
compiler that ships in Spark's jar directory. The build is skipped when
a stamp over every source file and the JDK matches the last build.

    python3 perfbench/build.py            # build into .bench_build
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the jar directory build.sbt compiles against (its unmanagedBase)
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def java_version():
    p = subprocess.run(["java", "-version"], capture_output=True, text=True, check=True)
    return p.stderr.strip().splitlines()[0]


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    return program + harness


def stamp(srcs, jdk):
    h = hashlib.sha256(jdk.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath, source digest, JDK line)."""
    srcs = sources()
    jdk = java_version()
    digest = stamp(srcs, jdk)
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    cp = f"{classes}:{SPARK_JARS}/*"
    if stamp_file.exists() and stamp_file.read_text() == digest:
        return cp, digest, jdk
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    args_file = out / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-cp", f"{SPARK_JARS}/*", f"@{args_file}"]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        raise SystemExit(f"build: scalac failed with code {p.returncode}")
    stamp_file.write_text(digest)
    return cp, digest, jdk


if __name__ == "__main__":
    print(build()[0])
