#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own Scala sources
(perfbench/src) into .bench_build/, with the Scala compiler that ships among
the Spark jars the program's build (build.sbt, `unmanagedBase`) links
against.

The output is one jar keyed by a digest of every source file, so an
unchanged tree is compiled once and a changed one is rebuilt. (A jar, not a
class directory, so that the JVM can archive its classes: see run.py.)

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory build.sbt links against, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def build(root):
    """Compiles if needed; returns the runtime classpath as a list."""
    jars_dir = spark_jars(root)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs + jars:
        digest.update(os.path.relpath(path, root).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    jar = os.path.join(out_root, "perfbench-%s.jar" % digest.hexdigest()[:16])
    if not os.path.isfile(jar):
        compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", j)]
        if len(compiler) != 3:
            raise BuildError("Scala 2.13 compiler jars not found in " + jars_dir)
        classes = os.path.join(out_root, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out_root, "scalac-args.txt")
        with open(argfile, "w") as f:
            f.write("-nowarn\n-classpath\n" + os.pathsep.join(jars) + "\n-d\n" + classes + "\n")
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + out_root,
               "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in os.walk(classes):
                for name in files:
                    z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
        os.rename(jar + ".tmp", jar)
        shutil.rmtree(classes)
    return [jar] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(os.getcwd())))
    except BuildError as e:
        sys.exit("build failed: %s" % e)
