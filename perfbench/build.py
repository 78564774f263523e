"""Build file of the benchmark: compiles the program's main sources together
with perfbench/src into one classes directory, using the Scala compiler
that ships in the Spark jar directory the program's build.sbt names
(`unmanagedBase`), or $SPARK_HOME/jars.  The output is keyed on a digest
of every source file, so a checkout compiles once and later runs reuse it.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench" / "build"


def spark_jars():
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not d.is_dir():
        raise SystemExit(f"perfbench: no Spark jar directory ({d})")
    return d


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    if not main or not bench:
        raise SystemExit("perfbench: program or benchmark sources missing")
    return main + bench


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    dest = OUT / h.hexdigest()[:16]
    if (dest / "classes").is_dir():
        return dest / "classes", jars
    compiler = [next(jars.glob(f"scala-{n}-2.13*.jar"), None) for n in ("compiler", "library", "reflect")]
    if None in compiler:
        raise SystemExit(f"perfbench: no Scala 2.13 compiler in {jars}")
    tmp = dest.with_name(dest.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", str(jars / "*")] + [str(p) for p in srcs]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log = p.communicate()[0]
        if p.returncode != 0:
            sys.stderr.write(log[-4000:])
            raise SystemExit("perfbench: compilation failed")
        for old in OUT.iterdir():  # builds of earlier sources
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(dest)
    finally:
        if p.poll() is None:  # interrupted: stop the compiler too
            p.kill()
            p.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return dest / "classes", jars


if __name__ == "__main__":
    print(build()[0])
