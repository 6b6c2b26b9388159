"""Build file of the CDC engine benchmark.

Compiles the engine's main sources (src/main/scala, plus src/main/resources)
together with the benchmark's own sources (cdcbench/src) into one jar, with
the Scala compiler that ships in the Spark distribution's jars. It then runs
the benchmark once in training mode with -XX:ArchiveClassesAtExit, so that
every later run maps the loaded classes from a class-data-sharing archive
instead of loading them from ~400 jars (about 5 s of each run on a 4-core
box). A stamp of the sources' hash skips the build when nothing
changed.

    python3 cdcbench/build.py
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build_dir() -> Path:
    return (Path.cwd() / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "cdcbench"


def jvm(out: Path, data: Path, archive: str):
    """The benchmark JVM's command line; `archive` is the CDS option."""
    cmd = [java(), "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m", archive,
           f"-Djava.io.tmpdir={data / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", f"{out / 'engine.jar'}{os.pathsep}{spark_jars()}/*", "graftbench.Main"]


def inputs():
    engine = REPO / "src" / "main" / "scala"
    if not engine.is_dir():
        raise FileNotFoundError(f"no engine sources at {engine}")
    scala = sorted(engine.rglob("*.scala")) + sorted((REPO / "cdcbench" / "src").rglob("*.scala"))
    resources = REPO / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return scala, resources, res


def compile_jar(out: Path, scala, resources: Path, res) -> None:
    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    jars = f"{spark_jars()}/*"
    print(f"[cdcbench] compiling {len(scala)} sources", file=sys.stderr, flush=True)
    subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                    "-d", str(classes), "-classpath", jars, f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(out / "engine.jar", "w") as z:
        for p in sorted(classes.rglob("*.class")):
            z.write(p, p.relative_to(classes).as_posix())
        for p in res:
            z.write(p, p.relative_to(resources).as_posix())
    shutil.rmtree(classes)


def train(out: Path) -> None:
    data = out / "train-data"
    shutil.rmtree(data, ignore_errors=True)
    (data / "tmp").mkdir(parents=True)
    print("[cdcbench] training run for the class-data-sharing archive", file=sys.stderr, flush=True)
    try:
        with open(out / "train.log", "w") as log:
            subprocess.run(jvm(out, data, f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}")
                           + ["--train", "1", "--data", str(data)],
                           check=True, stdout=log, stderr=log, cwd=data, timeout=600)
    finally:
        shutil.rmtree(data, ignore_errors=True)


def build(out: Path) -> Path:
    """Compile and train if the sources changed; return the build directory."""
    scala, resources, res = inputs()
    h = hashlib.sha256()
    for p in scala + res:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    stamp = out / "build.sha256"
    if stamp.is_file() and stamp.read_text() == digest:
        return out
    out.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    (out / "classes.jsa").unlink(missing_ok=True)
    compile_jar(out, scala, resources, res)
    train(out)
    stamp.write_text(digest)
    return out


if __name__ == "__main__":
    print(build(build_dir()))
