"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The statistics and self-time tests are pure Python. The seed-determinism
tests build the program (perfbench/build.py) and start the harness JVM in
digest mode, so they take a minute or two.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import build as builder  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def sample(kind, wall, traced=False, warm=False, family='hll', rows=10, **counters):
    c = dict(jobs=2, build_jobs=0, stages=2, tasks=8, cpu_ns=int(1e9), gc_ms=10,
             shuffle_write_bytes=100, peak_exec_mem=2 ** 20, records_read=5, output_bytes=0)
    c.update(counters)
    return dict(kind=kind, family=family, op=f'{kind}#1', wall_s=wall, build_s=0.01,
                rows=rows, warm=warm, traced=traced, error=None, counters=c)


def result(samples, **extra):
    r = dict(samples=samples, session_s=5.0, fixture_s=[9.0, 2.0, 3.0], warmup_s=[4.0, 1.0],
             measure_s=8.0, cores=4, context={}, catalyst=dict(analysis_ms=3,
             optimization_ms=6, planning_ms=9), micro={}, host=dict(spin_ms=100.0,
             bare_job_ms=80.0, fast_lane_s=1.0), rounds=1)
    r.update(extra)
    return r


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(1, 100)]  # 99 samples: 9 beyond the p90
        self.assertIsNone(metrics.tail_percentile(xs, 0.9))
        xs.append(100.0)  # 100 samples: p90 = 90, and 91..100 lie beyond it
        self.assertEqual(metrics.tail_percentile(xs, 0.9), 90.0)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 5
        self.assertIsNone(metrics.tail_percentile(xs, 0.9))
        self.assertEqual(metrics.tail_percentile(xs, 0.9, min_beyond=5), 1.0)

    def test_empty(self):
        self.assertIsNone(metrics.tail_percentile([], 0.9))
        self.assertEqual(metrics.median([]), 0.0)

    def test_lap_sums_per_kind_medians(self):
        ss = [sample('a', 1.0), sample('a', 3.0), sample('a', 2.0), sample('b', 10.0)]
        self.assertEqual(metrics.lap(ss), 12.0)

    def test_per_op_is_mean_of_per_kind_medians(self):
        ss = [sample('a', 1, jobs=2), sample('a', 1, jobs=4), sample('a', 1, jobs=3),
              sample('b', 1, jobs=7)]
        self.assertEqual(metrics.per_op(ss, lambda s: s['counters']['jobs']), 5.0)

    def test_end_to_end(self):
        ss = [sample('a', 1.0, warm=True), sample('a', 2.0), sample('b', 4.0, rows=-1)]
        e = metrics.end_to_end(result(ss))
        self.assertEqual(e['setup_s'], 5.0 + 3.0 + 5.0)  # session + median fixture + warm-up
        self.assertEqual(e['op_p50_s'], 3.0)
        self.assertEqual(e['lap_s'], 6.0)
        self.assertEqual(e['rows_per_s'], (10 + 5) / 8.0)  # rows=-1 reads records_read
        self.assertEqual([n for n, _ in metrics.END_TO_END], list(e))


def span(i, parent, name, start, end):
    return dict(id=i, parent=parent, name=name, start_ms=start, end_ms=end, tags={})


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [span(1, 0, 'op', 0, 100),
                 span(2, 1, 'entry.build', 0, 30),
                 span(3, 1, 'action', 30, 90),
                 span(4, 3, 'job', 35, 60),
                 span(5, 3, 'job', 50, 70),   # overlaps job 4: 35..70 covered once
                 span(6, 3, 'job', 85, 95)]   # runs past its parent: clipped at 90
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 10)           # 100 - 30 - 60; grandchildren do not count
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 60 - 35 - 5)
        self.assertEqual(st[4], 25)
        self.assertEqual(metrics.mean_self_ms(spans)['job'], (25 + 20 + 10) / 3)

    def test_zero_length_and_disjoint_children(self):
        spans = [span(1, 0, 'op', 0, 10), span(2, 1, 'action', 2, 2),
                 span(3, 1, 'action', 3, 4), span(4, 1, 'action', 6, 8)]
        self.assertEqual(metrics.self_times(spans)[1], 7)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_run_prints(self):
        bench = json.loads((HERE.parent / 'BENCHMARK.json').read_text())
        self.assertEqual([w['name'] for w in bench['workloads']], list(run.WORKLOADS))
        self.assertEqual([(m['name'], m['unit']) for m in bench['end_to_end']],
                         list(metrics.END_TO_END))
        self.assertEqual([(m['name'], m['unit']) for m in bench['per_layer']],
                         list(metrics.PER_LAYER))

    def test_per_layer_emits_every_metric(self):
        ss = [sample('fold', 1.0), sample('fold', 2.0, traced=True),
              sample('rollup_all', 0.5, traced=True, family='q')]
        spans = [span(1, 0, 'op', 0, 10), span(2, 1, 'action', 1, 9)]
        out = metrics.per_layer(result(ss), spans, 0.0)
        self.assertEqual(sorted(out), sorted(n for n, _ in metrics.PER_LAYER))
        self.assertEqual(out['streaming.fold_p50_s'], 1.5)
        self.assertEqual(out['trace.overhead_frac'], 1.0)  # fold: traced 2.0 vs plain 1.0
        self.assertEqual(out['operators.task_cpu_s.q'], 1.0)


def digests(workload, seeds):
    """Run the harness in digest mode in a fresh JVM; one dict per seed."""
    classes, jars = builder.build()
    run_dir = builder.BUILD / 'tests' / f'{workload}-{"_".join(map(str, seeds))}'
    run_dir.mkdir(parents=True, exist_ok=True)
    cmd = run.harness_cmd(classes, jars, run_dir, [
        '--workload', workload, '--seed', ','.join(map(str, seeds)), '--mode', 'digest'])
    proc = subprocess.run(cmd, cwd=run_dir, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(proc.stderr[-3000:])
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith('{')]
    return {d['seed']: d for d in lines}


class SeedDeterminism(unittest.TestCase):
    def check(self, workload, varies):
        a = digests(workload, [1, 2])
        b = digests(workload, [1])
        self.assertEqual(a[1], b[1], 'the same seed must give the same digests in a new JVM')
        for key in varies:
            self.assertNotEqual(a[1][key], a[2][key], f'{key} must change with the seed')
        return a

    def test_sketch_ingest(self):
        self.check('sketch_ingest', ['input', 'sketch'])

    def test_sketch_store(self):
        self.check('sketch_store', ['input', 'sketch'])

    def test_contract_lap(self):
        a = self.check('contract_lap', ['laps'])
        self.assertEqual(a[1]['input'], a[2]['input'], 'contract_lap runs on fixed tables')


if __name__ == '__main__':
    unittest.main()
