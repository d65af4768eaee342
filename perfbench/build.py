"""Build file of the benchmark: compiles the program's sources and the
benchmark's own sources into one class directory with the Scala compiler
that ships in Spark's jars.

    python3 perfbench/build.py          # from the root of a checkout

The build is skipped when a stamp of every source file and the compiler
command is unchanged. Output goes to `.bench_build/` at the root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The jar directory the program's own build compiles against
    (`unmanagedBase` in build.sbt), else SPARK_HOME's jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if found:
            return found.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no jar directory in build.sbt and SPARK_HOME is unset")


def sources():
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_command(out_dir, args_file):
    return ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out_dir, "@" + args_file]


def build():
    """Compiles when a source changed; returns the class directory."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: program sources not found under src/main/scala")
    srcs = sources()
    digest = hashlib.sha256(" ".join(compile_command("OUT", "ARGS")).encode())
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp_file = os.path.join(OUT, "stamp")
    stamp = digest.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return CLASSES
    os.makedirs(OUT, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    result = subprocess.run(compile_command(staging, args_file), stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    if result.returncode != 0:
        sys.stderr.write(result.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
