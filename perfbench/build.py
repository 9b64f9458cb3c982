#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/{program,harness}-<source hash>/.

Usage: python3 perfbench/build.py      (from the repository root)
Prints the runtime classpath. A build whose sources are unchanged is
reused; a failed build leaves nothing behind that looks complete.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_ROOT = os.path.join(".bench_build", "perfbench")


def sources(pattern_root):
    return sorted(glob.glob(os.path.join(pattern_root, "**", "*.scala"), recursive=True))


def scalac(out, classpath, files):
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def digest_of(files, seed=b""):
    digest = hashlib.sha256(seed)
    for path in files:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    return digest.hexdigest()[:16]


def compiled(name, tag, classpath, files):
    """Classes of `files` under BUILD_ROOT/<name>-<tag>, compiled once."""
    out = os.path.join(BUILD_ROOT, f"{name}-{tag}")
    if not os.path.exists(os.path.join(out, "COMPLETE")):
        for old in glob.glob(os.path.join(BUILD_ROOT, name + "-*")):
            shutil.rmtree(old)
        os.makedirs(out)
        scalac(out, classpath, files)
        open(os.path.join(out, "COMPLETE"), "w").close()
    return os.path.abspath(out)


def build():
    """Compile what changed; return (classpath for the harness, source tag)."""
    program = sources(os.path.join("src", "main", "scala"))
    harness = sources(os.path.join("perfbench", "src"))
    if not program or not harness:
        raise SystemExit("perfbench: run from the repository root; "
                         "src/main/scala or perfbench/src is missing")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: no Spark jars at {SPARK_JARS}")
    jars = SPARK_JARS + "/*"
    program_tag = digest_of(program)
    tag = digest_of(harness, program_tag.encode())
    program_out = compiled("program", program_tag, jars, program)
    harness_out = compiled("harness", tag, program_out + os.pathsep + jars, harness)
    return os.pathsep.join([harness_out, program_out, jars]), tag


if __name__ == "__main__":
    print(build()[0])
