"""Build file of the perfbench harness.

Compiles the program's sources (src/main/scala) together with the
harness (perfbench/scala) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution. A stamp over every source
file skips the build when nothing changed. Run directly to build:

    python3 perfbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise BuildError("Spark not found: set SPARK_HOME")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))


def ensure():
    """Compile if needed; return the runtime classpath entries."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classpath(classes, jars)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    # cwd outside the checkout root: scalac puts "." on its classpath, and
    # the root's perfbench/scala directory would shadow the scala package
    r = subprocess.run(cmd, cwd=OUT, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classpath(classes, jars)


def classpath(classes, jars):
    return [str(classes), str(ROOT / "src" / "main" / "resources"), f"{jars}/*"]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
