#!/usr/bin/env python3
"""Compile the benchmark: the program's sources (src/main/scala, unchanged)
together with the benchmark's own (perfbench/src/main/scala), with the Scala
compiler that ships among Spark's jars, against those same jars: the
directory the program's own build.sbt names as `unmanagedBase`.

    python3 perfbench/build.py     # prints the runtime classpath

The classes go into one jar, .bench_build/perfbench/bench.jar in the
checkout (a JVM class-data archive, which run.py keeps next to it, can only
hold classes that come from jars). A rebuild happens only when a source file
(or this file) changed, and it drops those archives. Nothing is resolved or
downloaded and nothing is written outside the checkout.
"""

import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 600


def spark_jars():
    """The Spark jars the program itself builds against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: no Spark jars directory (unmanagedBase in build.sbt)")
    return m.group(1)


def sources():
    files = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile when the sources changed since the last build; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    jars = spark_jars()
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    jar = os.path.join(STATE, "bench.jar")
    classpath = f"{jar}:{jars}/*"
    stamp = os.path.join(STATE, "build.json")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        files = sources()
        want = digest(files)
        if os.path.exists(stamp):
            with open(stamp) as fh:
                if json.load(fh).get("digest") == want:
                    return classpath
            os.remove(stamp)
        print("perfbench: compiling", len(files), "sources", file=sys.stderr, flush=True)
        for f in glob.glob(os.path.join(STATE, "*.jsa")) + glob.glob(jar):
            os.remove(f)
        classes = os.path.join(STATE, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={STATE}/tmp", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-classpath", f"{jars}/*", "-d", classes] + files
        code = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S, check=False).returncode
        if code != 0:
            raise SystemExit(f"perfbench: build failed (scalac exit {code})")
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        shutil.rmtree(classes)
        with open(stamp, "w") as fh:
            json.dump({"digest": want}, fh)
        return classpath


if __name__ == "__main__":
    print(build())
