"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`, with `src/main/resources` on the classpath) and the
benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory. No sbt, no dependency resolution: the
only inputs are the checkout and `$SPARK_HOME/jars`.

Outputs go under the build directory (`$CARGO_TARGET_DIR` when set,
else `.bench_build`, relative to the checkout root), keyed by a hash of
the sources, so an unchanged checkout builds once:

    <build>/engine-<hash>/   engine classes
    <build>/bench-<hash>/    benchmark classes

Run it alone with `python3 perfbench/build.py`; `run.py` calls it first.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SCALAC_OPTS = ["-nowarn"]


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the first `jars` beside a `bin/spark-submit`
    on PATH that holds the Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("build: no Scala compiler in a Spark jars directory (set SPARK_HOME)")


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources(*dirs: Path, suffix: str = ".scala"):
    out = []
    for d in dirs:
        out += sorted(p for p in d.rglob("*") if p.is_file() and p.name.endswith(suffix))
    return out


def digest(files, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def scalac(out: Path, classpath: str, files) -> None:
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(tmp.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           *SCALAC_OPTS,
           "-d", str(tmp), "-classpath", f"{jars}/*" + (":" + classpath if classpath else ""),
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed for {out.name}")
    tmp.rename(out)


def build() -> str:
    """Compile what is stale and return the run classpath."""
    engine_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    if not engine_src.is_dir() or not resources.is_dir():
        raise SystemExit(f"build: engine sources not found under {ROOT / 'src' / 'main'}")
    engine_files = sources(engine_src)
    bench_files = sources(BENCH_DIR / "src")
    if not engine_files or not bench_files:
        raise SystemExit("build: no Scala sources to compile")
    opts = " ".join(SCALAC_OPTS)
    engine_key = digest(engine_files + sources(resources, suffix=""), opts)
    bench_key = digest(bench_files, engine_key)
    bdir = build_dir()
    bdir.mkdir(parents=True, exist_ok=True)
    engine_out = bdir / f"engine-{engine_key}"
    bench_out = bdir / f"bench-{bench_key}"
    if not engine_out.is_dir():
        scalac(engine_out, "", engine_files)
    if not bench_out.is_dir():
        scalac(bench_out, str(engine_out), bench_files)
    keep = {engine_out.name, bench_out.name}
    for old in bdir.glob("engine-*"):
        if old.name not in keep and old.is_dir():
            shutil.rmtree(old, ignore_errors=True)
    for old in bdir.glob("bench-*"):
        if old.name not in keep and old.is_dir():
            shutil.rmtree(old, ignore_errors=True)
    return ":".join([str(bench_out), str(engine_out), str(resources), f"{spark_jars()}/*"])


if __name__ == "__main__":
    print(build())
