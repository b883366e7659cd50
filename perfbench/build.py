"""Compile the engine's sources and the benchmark's JVM side.

The benchmark's build file: one scalac pass over ``src/main/scala`` and
``perfbench/scala`` against the Spark jars in the directory
``build.sbt`` names as its ``unmanagedBase``, into
``.bench_build/classes-<key>``,
where the key is a digest of every source. An unchanged tree reuses its
classes. Run it directly to build without running the benchmark:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jars(root):
    """The jars of the ``unmanagedBase`` directory ``build.sbt`` names."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    found = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not found:
        raise SystemExit("build.sbt's unmanagedBase holds no jars")
    return found


def build(root):
    """Return the classes directory for the tree at ``root``."""
    srcs = sources(root)
    if not any("/src/main/scala/graft/" in s for s in srcs):
        raise SystemExit("engine sources (src/main/scala/graft) not found "
                         f"under {root}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars(root))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed with code {r.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
