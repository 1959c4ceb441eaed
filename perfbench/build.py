"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark's own sources (perfbench/scala) with scalac, run straight on the
JVM against the Spark jars the sbt build uses, into .bench_build/.

Each of the two parts is keyed by a digest of its source files, so an
unchanged tree reuses the classes of its last build.

    python3 perfbench/build.py      # build (or reuse) and print the classes dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
SCALAC_FLAGS = ["-nowarn", "-release", "17"]


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise RuntimeError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(top):
    base = os.path.join(ROOT, top)
    if not os.path.isdir(base):
        raise RuntimeError(f"missing source directory {top}")
    found = []
    for d, _, files in os.walk(base):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_once(name, srcs, classpath, salt):
    """Compile `srcs` into .bench_build/<name>-<digest>/ unless already built."""
    h = hashlib.sha256((" ".join(SCALAC_FLAGS) + salt).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, f"{name}-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, f"{name}-scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", *SCALAC_FLAGS, "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed on {name}:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for d in os.listdir(OUT):  # keep only the newest build of each part
        p = os.path.join(OUT, d)
        if d.startswith(name + "-") and p != classes and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    return classes


def build():
    """Classpath entries for graft, the benchmark and Spark, compiling if needed."""
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    graft = compile_once("graft", sources("src/main/scala"), [jars], "")
    bench = compile_once("bench", sources("perfbench/scala"), [graft, jars], graft)
    return [bench, graft, jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except Exception as e:  # a failed build is reported, never half-used
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
