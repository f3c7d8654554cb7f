#!/usr/bin/env python3
"""Benchmark of the HLL engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload sketch_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source if needed (perfbench/build.py),
runs the closed-loop harness (perfbench.Main) on local[nproc], checks its
outputs, and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. --trace 0 prints the end-to-end metrics, --trace 1 the per-layer
ones. Exits 1 when an output check fails, 2 when the program cannot be built.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build as builder  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ('sketch_ingest', 'sketch_store', 'contract_lap')
DATA = HERE / 'data' / 'sf0.01'
HARNESS_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit (same list as the repository's build.sbt).
ADD_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net', 'java.nio',
    'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic', 'sun.nio.ch',
    'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]


def harness_cmd(classes, jars, run_dir, argv):
    tmp = run_dir / 'tmp'
    tmp.mkdir(exist_ok=True)
    return ['java', '-Xms3g', '-Xmx3g', '-XX:+UseParallelGC', '-XX:-UsePerfData', '-Xss8m', *ADD_OPENS,
            f'-Djava.io.tmpdir={tmp}',
            f'-Dlog4j2.configurationFile={HERE / "log4j2.properties"}',
            '-Dspark.ui.enabled=false',
            '-cp', f'{classes}{os.pathsep}{jars / "*"}',
            'perfbench.Main', *argv, '--out', str(run_dir), '--data', str(DATA)]


def run_java(cmd, run_dir, limit_s):
    """Run the harness with its output in run_dir/harness.log; kill it and
    wait for it on timeout. Returns the exit code (None on timeout)."""
    with open(run_dir / 'harness.log', 'w') as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else 0.0


def main(argv=None):
    ap = argparse.ArgumentParser(description='HLL engine benchmark')
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        classes, jars = builder.build()
    except builder.BuildError as e:
        print(f'[perfbench] cannot build the program: {e}', file=sys.stderr)
        return 2
    if not DATA.is_dir():
        print(f'[perfbench] fixture tables missing: {DATA}', file=sys.stderr)
        return 2

    run_dir = builder.BUILD / 'runs' / f'{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}'
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cmd = harness_cmd(classes, jars, run_dir, [
        '--workload', args.workload, '--seed', str(args.seed),
        '--seconds', str(args.seconds), '--trace', str(args.trace)])
    t0 = time.monotonic()
    rc = run_java(cmd, run_dir, HARNESS_LIMIT_S)
    if rc != 0 or not (run_dir / 'result.json').is_file():
        why = 'timed out' if rc is None else f'exited with {rc}'
        tail = (run_dir / 'harness.log').read_text(errors='replace').splitlines()[-30:]
        print(f'[perfbench] harness {why}:\n' + '\n'.join(tail), file=sys.stderr)
        return 1
    result = json.loads((run_dir / 'result.json').read_text())

    checks = list(result['checks'])
    if args.workload == 'contract_lap':
        checks += [{'name': f'oracle.{q}', 'ok': ok, 'detail': d}
                   for q, ok, d in oracle.compare(run_dir / 'oracle', DATA)]
    ms = metrics.measured(result)
    failed_ops = sum(1 for s in result['samples'] if s['error'])
    failed_checks = [c for c in checks if not c['ok']]
    attempted = max(1, len(ms))
    failed = failed_ops + len(failed_checks)
    failed_frac = failed / attempted

    if args.trace:
        spans = [json.loads(line) for line in
                 (run_dir / 'spans.jsonl').read_text().splitlines() if line]
        values, names = metrics.per_layer(result, spans, failed_frac), metrics.PER_LAYER
    else:
        values, names = metrics.end_to_end(result), metrics.END_TO_END

    walls = [s['wall_s'] for s in ms]
    p90 = metrics.tail_percentile(walls, 0.9)
    host = result['host']
    print(f"[perfbench] {args.workload} seed={args.seed}: {len(ms)} ops in "
          f"{result['rounds']} rounds, {result['measure_s']:.2f} s measured; op_p90_s="
          f"{'%.4f' % p90 if p90 is not None else 'n/a (needs 10 samples beyond it)'}; "
          f"host spin_ms={host['spin_ms']:.1f} bare_job_ms={host['bare_job_ms']:.1f} "
          f"fast_lane_s={host['fast_lane_s']}; wall {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    for c in failed_checks:
        print(f"[perfbench] CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)

    for sub in ('store', 'store_warm', 'spark-local', 'oracle', 'warehouse', 'tmp'):
        shutil.rmtree(run_dir / sub, ignore_errors=True)
    print(json.dumps({
        'correct': failed == 0,
        'attempted': attempted,
        'failed': failed,
        'metrics': {n: {'value': finite(values[n]), 'unit': u} for n, u in names},
    }))
    return 0 if failed == 0 else 1


if __name__ == '__main__':
    sys.exit(main())
