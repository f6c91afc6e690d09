"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/harness`) are
compiled with the Scala compiler that ships in Spark's jar directory, so
neither sbt nor a dependency cache is needed. Output goes to
`<build dir>/classes-main` and `<build dir>/classes-harness`; a stamp
holding a hash of every source skips the compile when nothing changed.

Run it alone with `python3 perfbench/build.py`; `run.py` calls `ensure`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars(root: Path) -> str:
    """`$SPARK_HOME/jars`, else the `unmanagedBase` that build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (root / "build.sbt").read_text())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"no Spark jars under '{jars}' (set SPARK_HOME)")
    return jars


def build_dir(root: Path) -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else root / d


def _sources(d: Path) -> list:
    return sorted(str(p) for p in d.rglob("*.scala"))


def _stamp(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def _scalac(jars: str, classpath: str, out: Path, files: list) -> None:
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"{name}-2.13*.jar"))[0] for name in SCALA_JARS)
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    # scalac does not expand `dir/*` classpath entries, so list the jars
    cp = os.pathsep.join(
        p2 for p in classpath.split(os.pathsep)
        for p2 in (sorted(glob.glob(p[:-1] + "*.jar")) if p.endswith("*") else [p]))
    argfile.write_text("\n".join(["-classpath", cp] + files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "@" + str(argfile)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed for {out.name}")


def ensure(root: Path) -> str:
    """Compile if any source changed; return the run classpath."""
    main_src = root / "src" / "main" / "scala"
    harness_src = root / "perfbench" / "harness"
    if not main_src.is_dir():
        raise SystemExit(f"program sources not found at {main_src}")
    jars = spark_jars(root)
    spark_cp = os.path.join(jars, "*")
    bdir = build_dir(root)
    main_out, harness_out = bdir / "classes-main", bdir / "classes-harness"
    main_files, harness_files = _sources(main_src), _sources(harness_src)
    stamp_file = bdir / "classes.stamp"
    stamp = _stamp(root, main_files + harness_files)
    if not (stamp_file.exists() and stamp_file.read_text() == stamp):
        bdir.mkdir(parents=True, exist_ok=True)
        if stamp_file.exists():
            stamp_file.unlink()
        _scalac(jars, spark_cp, main_out, main_files)
        _scalac(jars, os.pathsep.join([str(main_out), spark_cp]), harness_out, harness_files)
        stamp_file.write_text(stamp)
    parts = [str(harness_out), str(main_out)]
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        parts.append(str(resources))
    return os.pathsep.join(parts + [spark_cp])


if __name__ == "__main__":
    print(ensure(Path(__file__).resolve().parent.parent))
