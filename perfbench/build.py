"""Build the program and the benchmark harness from source.

The program's Scala sources (src/main/scala) and the harness
(perfbench/harness) are compiled together with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes-<digest>`.
The digest covers every source and resource, so an unchanged tree reuses
its classes and a changed one is rebuilt.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCES = ("src/main/scala", "perfbench/harness")
RESOURCES = "src/main/resources"


class BuildError(RuntimeError):
    pass


def spark_home() -> Path:
    """$SPARK_HOME, else the distribution that `spark-submit` on PATH is in."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def spark_classpath() -> str:
    jars = sorted((spark_home() / "jars").glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_home() / 'jars'}")
    return os.pathsep.join(str(j) for j in jars)


def _files(root: Path, rel: str, suffix: str = "") -> list:
    base = root / rel
    return sorted(p for p in base.rglob("*") if p.is_file() and p.name.endswith(suffix))


def scalac(sources, out: Path) -> None:
    """Compile `sources` into the directory `out` with the Scala compiler
    of the Spark distribution, against the Spark jars."""
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = spark_classpath()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-deprecation", "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=840)
    finally:
        argfile.unlink()
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])


def build(root: Path) -> Path:
    """Compile (or reuse) and return the classes directory."""
    if not (root / "src/main/scala/graft/SparkEntry.scala").is_file():
        raise BuildError(f"{root} holds no program sources (src/main/scala/graft)")
    sources = [p for rel in SOURCES for p in _files(root, rel, ".scala")]
    resources = _files(root, RESOURCES) if (root / RESOURCES).is_dir() else []
    digest = hashlib.sha256()
    for p in sources + resources:
        digest.update(str(p.relative_to(root)).encode())
        digest.update(p.read_bytes())
    out = root / ".bench_build" / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").is_file():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(sources, tmp)
    for r in resources:
        dst = tmp / r.relative_to(root / RESOURCES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(r, dst)
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for stale in out.parent.glob("classes-*"):  # builds of other trees
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
