"""Compile graft and the benchmark's JVM program from source.

The Scala compiler that ships beside Spark's jars compiles both trees
directly, so no build tool's start-up lands in any timing and
`build.sbt` stays untouched.  Outputs are cached under
`perfbench/.build/<tree>-<hash>/`, keyed by a hash of the sources, so
only the first run in a checkout compiles.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")


class BuildError(RuntimeError):
    pass


def jar_dir():
    """Spark's jar directory, as the project's own build declares it."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: run from the root of a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no readable unmanagedBase jar directory")
    return m.group(1)


def _one_jar(jdir, prefix):
    hits = sorted(glob.glob(os.path.join(jdir, prefix + "-2.*.jar")))
    if not hits:
        raise BuildError(f"no {prefix} jar in {jdir}")
    return hits[-1]


def _sources(tree):
    out = []
    for dirpath, _, files in os.walk(tree):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _compile(name, sources, classpath, jdir, log):
    """Compile `sources` against `classpath`; returns the output dir."""
    if not sources:
        raise BuildError(f"no Scala sources for {name}")
    out = os.path.join(BUILD, f"{name}-{_digest(sources)}")
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, ".sources")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    compiler_cp = ":".join(_one_jar(jdir, p) for p in
                           ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", tmp, "@" + args_file]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    os.remove(args_file)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[perfbench] compiled {name} ({len(sources)} files) in "
          f"{time.time() - t0:.1f}s", file=log)
    return out


def build(log=sys.stderr):
    """Returns the runtime classpath: graft's classes, the benchmark's
    classes, then Spark's jars."""
    jdir = jar_dir()
    jars = sorted(glob.glob(os.path.join(jdir, "*.jar")))
    program = _compile("graft", _sources(os.path.join(ROOT, "src", "main", "scala")),
                       jars, jdir, log)
    bench = _compile("bench", _sources(os.path.join(BENCH, "scala")),
                      [program] + jars, jdir, log)
    return [program, bench, os.path.join(jdir, "*")]


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
