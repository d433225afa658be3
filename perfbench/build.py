"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jars directory, into .bench_build/classes. The compile is skipped
when a digest of the sources matches the one stamped into the last build.

    python3 perfbench/build.py      # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"
STAMP = ".sources-sha256"


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not os.access(exe, os.X_OK):
        raise SystemExit("perfbench: no java found; set JAVA_HOME")
    return exe


def sources(root):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: {program} not found; run from the repository root")
    return sorted(program.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))


def ensure_built(root):
    """Compile if the sources changed; return the classes directory."""
    root = Path(root)
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(str(path.relative_to(root)).encode())
        digest.update(path.read_bytes())
    stamp = digest.hexdigest()
    classes = root / BUILD_DIR / "classes"
    if (classes / STAMP).is_file() and (classes / STAMP).read_text() == stamp:
        return classes
    fresh = root / BUILD_DIR / "classes.tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    (fresh / "tmp").mkdir(parents=True)
    argfile = root / BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={fresh / 'tmp'}",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(fresh), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(fresh / "tmp")
    (fresh / STAMP).write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    return classes


if __name__ == "__main__":
    print(ensure_built(Path.cwd()))
