"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution's jars, offline, into .bench_build/classes-<hash>. The
hash covers every source file, so a timed run reuses the classes of an
unchanged tree and never pays a compile or a build-tool start.

    python3 perfbench/build.py        # from the root of the repository
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = ".bench_build"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))
    return main, bench


def build(root):
    main, bench = sources(root)
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench: Spark jars not found at %s" % SPARK_JARS)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench))
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: compile failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
