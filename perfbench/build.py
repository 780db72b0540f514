"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) from source with the Scala compiler that ships
in Spark's jars directory.

    python3 perfbench/build.py        # from the repository root

The classes land in .bench_build/classes. A stamp over every source file
skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(os.path.realpath(submit)).parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no program sources under {root / 'src' / 'main' / 'scala'}")
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not bench:
        raise BuildError("no harness sources under perfbench/src")
    return main + bench


def build(root, out):
    """Compile into out/classes unless the stamp shows it is current;
    returns the classes directory."""
    root, out = Path(root), Path(out)
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd(), Path.cwd() / ".bench_build"))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
