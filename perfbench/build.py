"""Build step: compile the engine (src/main/scala) and the benchmark's JVM
runner (perfbench/jvm) with the Scala compiler that ships in Spark's jars:
$SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt declares.

Classes go to <root>/.bench_build/classes/{main,bench}; a stamp over every
source file skips a step when nothing it depends on changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess


def build_dir(root):
    return root / ".bench_build"


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise FileNotFoundError("set SPARK_HOME: build.sbt declares no unmanagedBase")
    return pathlib.Path(m.group(1))


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root):
    """Compile what changed; returns the run classpath. Raises on failure."""
    bdir = build_dir(root)
    classes = bdir / "classes"
    jars = spark_jars(root) / "*"
    steps = [
        ("main", root / "src" / "main" / "scala", [jars]),
        ("bench", root / "perfbench" / "jvm", [classes / "main", jars]),
    ]
    stamp = ""
    for name, src, cp in steps:
        files = sorted(p for p in src.rglob("*.scala") if p.is_file())
        if not files:
            raise FileNotFoundError(f"no Scala sources under {src}")
        stamp = _stamp(files, stamp)
        stamp_file, out = classes / f"{name}.stamp", classes / name
        if stamp_file.exists() and stamp_file.read_text() == stamp:
            continue
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        args = bdir / f"scalac-{name}.args"
        args.write_text("\n".join(str(f) for f in files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars), "scala.tools.nsc.Main",
               "-nowarn", "-d", str(out), "-classpath", os.pathsep.join(map(str, cp)), f"@{args}"]
        with open(bdir / "build.log", "ab") as log:
            subprocess.run(cmd, check=True, stdout=log, stderr=subprocess.STDOUT)
        stamp_file.write_text(stamp)
    return os.pathsep.join(map(str, [classes / "main", classes / "bench", jars]))


if __name__ == "__main__":
    print(build(pathlib.Path.cwd()))
