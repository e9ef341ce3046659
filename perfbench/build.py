"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (perfbench/src/main/scala,
plus perfbench/src/test/scala with --test) using the Scala compiler that
ships with Spark, into .bench_build/ at the repository root.

    python3 perfbench/build.py [--test]

Prints the class directory on stdout. A build is reused while every source
file and the toolchain are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jars (the Scala compiler among them): $SPARK_HOME/jars, else
    those of the first Spark installation whose `bin/spark-submit` is on
    PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(test: bool) -> list:
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src" / "main" / "scala"]
    if test:
        roots.append(ROOT / "perfbench" / "src" / "test" / "scala")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"perfbench: program sources not found under {ROOT / 'src/main/scala'}")
    return sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))


def build(test: bool = False) -> Path:
    jars = spark_jars()
    srcs = sources(test)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(out), "-classpath", cp, "-nowarn", f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources into {out}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    (out / ".ok").write_text("ok\n")
    return out


if __name__ == "__main__":
    print(build(test="--test" in sys.argv[1:]))
