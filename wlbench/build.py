"""Build file of the benchmark: compiles graft's main sources together with
the harness under `scala/` into one class directory, with the Scala compiler
that ships in Spark's jar directory.  Rebuilds only when a source changes.

    python3 wlbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "wlbench"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(os.path.realpath(submit)).parent.parent / "jars")
    for c in cands:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("wlbench: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise SystemExit("wlbench: no java executable (set JAVA_HOME)")
    return str(exe)


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"wlbench: graft sources not found under {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def ensure(log=sys.stderr):
    """Compile if needed; returns the class directory."""
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for f in srcs + (sorted(p for p in resources.rglob("*") if p.is_file())
                     if resources.is_dir() else []):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    digest = h.hexdigest()[:16]
    classes = WORK / f"classes-{digest}"
    if classes.is_dir():
        return classes
    tmp = WORK / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = WORK / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = spark_jars()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "2",
           "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"[wlbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("wlbench: compilation failed")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    for old in WORK.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(ensure())
