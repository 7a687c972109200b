"""Build file of graftbench: compiles graft's sources (src/main/scala) and
the benchmark's (graftbench/src) with the Scala compiler that ships in
Spark's jar directory, into .bench_build/graftbench/classes. A stamp of
every source's path and content makes a rebuild happen only on change.
"""
import glob
import hashlib
import os
import shutil
import subprocess


class BuildError(Exception):
    pass


def out_dir(root):
    return os.path.join(root, ".bench_build", "graftbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "graftbench", "src", "*.scala")))
    if not graft:
        raise BuildError("graft sources not found under src/main/scala")
    if not bench:
        raise BuildError("benchmark sources not found under graftbench/src")
    return graft + bench


def build(root):
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = out_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp
