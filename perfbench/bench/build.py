"""Builds the program and the benchmark harness from source.

Both compile in one scalac run (the Scala compiler ships in Spark's jar
directory) into `.bench_build/classes-<hash>`, where the hash covers every
source file, so a changed tree gets a fresh build and an unchanged one
reuses it.
"""
import hashlib
import os
import shutil
import subprocess
import tempfile

PROGRAM_SRC = os.path.join('src', 'main', 'scala')
PROGRAM_RES = os.path.join('src', 'main', 'resources')
HARNESS_SRC = os.path.join('perfbench', 'scala')
JVM_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'jdk.internal.ref', 'sun.nio.ch', 'sun.nio.cs', 'sun.security.action',
    'sun.util.calendar')]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        submit = shutil.which('spark-submit')
        if not submit:
            raise BuildError('no SPARK_HOME and no spark-submit on PATH')
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, 'jars')
    if not os.path.isdir(jars):
        raise BuildError(f'no Spark jar directory at {jars}')
    return jars


def _sources(root):
    out = []
    for base in (PROGRAM_SRC, HARNESS_SRC):
        top = os.path.join(root, base)
        if not os.path.isdir(top):
            raise BuildError(f'missing source directory {base}')
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(out)


def ensure(root, build_dir):
    """Returns the classpath (a list) for the harness, building if needed."""
    srcs = _sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, 'rb') as f:
            h.update(hashlib.sha256(f.read()).digest())
    jars = spark_jars()
    classes = os.path.join(build_dir, f'classes-{h.hexdigest()[:16]}')
    if not os.path.isdir(classes):
        os.makedirs(build_dir, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix='classes-', dir=build_dir)
        cmd = ['java', '-Xmx2g', '-Xss32m', '-cp', os.path.join(jars, '*'),
               'scala.tools.nsc.Main', '-nowarn', '-d', tmp,
               '-classpath', os.path.join(jars, '*')] + srcs
        p = subprocess.run(cmd, capture_output=True, text=True)
        if p.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError('scalac failed:\n' + (p.stdout + p.stderr)[-4000:])
        os.rename(tmp, classes)
    return [classes, os.path.join(root, PROGRAM_RES), os.path.join(jars, '*')], \
        h.hexdigest()
