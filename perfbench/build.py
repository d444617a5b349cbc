#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`, and `src/main/java` when present) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that ships
next to the Spark jars named by `build.sbt`'s `unmanagedBase` — the same
compile classpath sbt uses for the main sources. Classes land under
`.bench_build/classes/{main,bench}` in the checkout; a digest of every source
file decides whether a rebuild is needed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, '.bench_build')
BENCH_SRC = os.path.join(ROOT, 'perfbench', 'scala')


class BuildError(Exception):
    pass


def _sbt_setting(pattern):
    try:
        with open(os.path.join(ROOT, 'build.sbt')) as f:
            m = re.search(pattern, f.read())
    except OSError:
        raise BuildError('no build.sbt in %s: not a checkout of the engine' % ROOT)
    return m.group(1) if m else None


def jars_dir():
    jars = _sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    if jars is None:
        raise BuildError('build.sbt sets no unmanagedBase (the Spark jars)')
    return jars


def scala_version():
    return _sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')


def _sources(*dirs, exts=('.scala', '.java')):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, 'rb') as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, dest, sources):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ['java', '-Xss8m', '-Xmx2g', '-cp', os.path.join(jars, '*'),
           'scala.tools.nsc.Main', '-nowarn', '-d', dest,
           '-classpath', classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError('scalac failed:\n' + r.stdout[-4000:])
    javas = [s for s in sources if s.endswith('.java')]
    if javas:
        r = subprocess.run(['javac', '-nowarn', '-d', dest, '-cp',
                            dest + os.pathsep + classpath] + javas,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            raise BuildError('javac failed:\n' + r.stdout[-4000:])


def build():
    """Compile what changed; return the runtime classpath and a digest of
    the engine sources."""
    jars = jars_dir()
    version = scala_version()
    if not os.path.isdir(jars):
        raise BuildError('Spark jars not found at %s' % jars)
    if version and not os.path.exists(
            os.path.join(jars, 'scala-compiler-%s.jar' % version)):
        raise BuildError('no scala-compiler-%s.jar in %s' % (version, jars))
    main_src = _sources(os.path.join(ROOT, 'src', 'main', 'scala'),
                        os.path.join(ROOT, 'src', 'main', 'java'))
    bench_src = _sources(BENCH_SRC)
    if not main_src or not bench_src:
        raise BuildError('engine or benchmark sources missing under %s' % ROOT)
    spark_cp = os.path.join(jars, '*')
    main_dir = os.path.join(OUT, 'classes', 'main')
    bench_dir = os.path.join(OUT, 'classes', 'bench')
    stamp = os.path.join(OUT, 'classes', 'stamp')
    main_digest = _digest(main_src)
    digest = main_digest + ' ' + _digest(bench_src)
    old = open(stamp).read().split() if os.path.exists(stamp) else []
    if not old or old[0] != main_digest:
        _scalac(jars, spark_cp, main_dir, main_src)
        old = []
    if not old or ' '.join(old) != digest:
        _scalac(jars, main_dir + os.pathsep + spark_cp, bench_dir, bench_src)
        with open(stamp, 'w') as f:
            f.write(digest)
    return os.pathsep.join([bench_dir, main_dir, spark_cp]), main_digest


if __name__ == '__main__':
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit('build: %s' % e)
