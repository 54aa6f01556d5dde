#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory
(`$SPARK_HOME/jars`). No sbt, no network, no writes outside the checkout.

The classes land in `.bench_build/classes-<hash>`, keyed by the content of
every source file, so a later run reuses them and a changed source
rebuilds. Run it alone with `python3 perfbench/build.py`; it prints the
class directory.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = pathlib.Path(home) / "jars" if home else None
    if not jars or not list(jars.glob("spark-sql_2.13-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark 4 install with a jars/ directory")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    own = ROOT / "perfbench" / "src"
    files = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not files:
        raise BuildError(f"no program sources under {main.relative_to(ROOT)}")
    return files + sorted(own.glob("*.scala"))


def build():
    """Returns the class directory, compiling first if it is missing."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / "BUILT").exists():
        return out
    tmp = BUILD / f"compiling-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{p}-2.13*.jar"))) for p in ("compiler", "library", "reflect")]
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    argfile.unlink()
    (tmp / "BUILT").write_text("ok\n")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
