"""Build file of the benchmark: compiles graft's sources and the benchmark's
own into one class directory under .bench_build, with plain scalac from the
Spark distribution (the same jars build.sbt compiles against).

The build is skipped when a stamp of every source file's path and content
matches the last successful build.
"""
import hashlib
import os
import re
import shutil
import subprocess


def spark_jars(root):
    """The jar directory build.sbt compiles against (its `unmanagedBase`),
    else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root, bench_dir):
    """graft's main sources, then the benchmark's, as sorted lists."""
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit("perfbench: no graft sources at %s; run from a checkout of the repo" % program)
    found = []
    for top in (program, os.path.join(bench_dir, "src")):
        for d, _, files in os.walk(top):
            found.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root, bench_dir, out_dir):
    """Returns the class directory, compiling first if the sources changed."""
    files = sources(root, bench_dir)
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    want = stamp(files)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise SystemExit("perfbench: compile failed\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes
