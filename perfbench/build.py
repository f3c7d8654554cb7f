#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the harness (perfbench/harness) into .bench_build/classes with the Scala
compiler that ships in Spark's jar directory. Rebuilds only when a source file
changed.

    python3 perfbench/build.py      # prints the classes directory

Spark's jars are found through $SPARK_HOME, else through the
`unmanagedBase := file("...")` line of the repository's build.sbt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / '.bench_build'


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if home and (Path(home) / 'jars').is_dir():
        return Path(home) / 'jars'
    sbt = ROOT / 'build.sbt'
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError('Spark jars not found: set SPARK_HOME')


def sources():
    engine = ROOT / 'src' / 'main' / 'scala'
    if not engine.is_dir():
        raise BuildError(f'engine sources missing: {engine}')
    files = sorted(engine.rglob('*.scala')) + sorted((HERE / 'harness').rglob('*.scala'))
    if not files:
        raise BuildError('no Scala sources found')
    return files


def stamp(files, jars):
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Return (classes dir, jars dir), compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    classes = BUILD / 'classes'
    stamp_file = BUILD / 'classes.stamp'
    want = stamp(files, jars)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes, jars
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / 'classes.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    compiler = [str(next(jars.glob(f'scala-{p}-2.13*.jar'))) for p in ('compiler', 'library', 'reflect')]
    argfile = BUILD / 'sources.args'
    argfile.write_text('\n'.join(str(f) for f in files) + '\n')
    cmd = ['java', '-XX:-UsePerfData', '-Xss8m', '-Xmx2g', '-cp', os.pathsep.join(compiler),
           'scala.tools.nsc.Main', '-nowarn', '-d', str(tmp),
           '-classpath', os.pathsep.join(str(j) for j in sorted(jars.glob('*.jar'))),
           f'@{argfile}']
    print(f'[perfbench] compiling {len(files)} Scala files', file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError('scalac failed:\n' + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes, jars


if __name__ == '__main__':
    try:
        print(build()[0])
    except BuildError as e:
        print(f'[perfbench] build failed: {e}', file=sys.stderr)
        sys.exit(2)
