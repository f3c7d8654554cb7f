"""Turns the harness's raw result (samples, counters, spans) into the
benchmark's metrics. Pure functions; see tests/test_perfbench.py."""
import math
import statistics
from collections import defaultdict

END_TO_END = (('setup_s', 's'), ('op_p50_s', 's'), ('lap_s', 's'), ('rows_per_s', 'rows/s'))

FAMILIES = ('q', 'hll', 'dd', 'sim', 'tx', 'mm')

SPAN_NAMES = ('op', 'entry.build', 'action', 'job', 'micro')

MICRO = ('hll.update_ns', 'hll.serialize_ns', 'hll.deserialize_ns', 'hll.merge_sparse_ns',
         'hll.merge_dense_ns', 'hll.cardinality_ns', 'hll.sketch_bytes_sparse',
         'hll.sketch_bytes_dense', 'functions.pystr_render_ns')


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, q, min_beyond=10):
    """The q-quantile of xs (nearest rank), or None unless at least
    `min_beyond` samples lie strictly beyond it."""
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, math.ceil(len(s) * q - 1e-9))  # nearest-rank definition
    value = s[rank - 1]
    beyond = sum(1 for x in s if x > value)
    return value if beyond >= min_beyond else None


def by_kind(samples, key):
    out = defaultdict(list)
    for s in samples:
        out[s['kind']].append(key(s))
    return out


def lap(samples):
    """One lap = every operation kind once: the sum of per-kind medians."""
    return sum(median(v) for v in by_kind(samples, lambda s: s['wall_s']).values())


def per_op(samples, key):
    """Mean over operation kinds of the per-kind median of `key`; repeats
    exactly for counts that repeat exactly per kind."""
    kinds = by_kind(samples, key)
    return sum(median(v) for v in kinds.values()) / len(kinds) if kinds else 0.0


def rows_of(s):
    return s['rows'] if s['rows'] >= 0 else s['counters']['records_read']


def measured(result):
    return [s for s in result['samples'] if not s['warm']]


def setup_seconds(result):
    return result['session_s'] + median(result['fixture_s']) + sum(result['warmup_s'])


def end_to_end(result):
    ms = measured(result)
    walls = [s['wall_s'] for s in ms]
    return {
        'setup_s': setup_seconds(result),
        'op_p50_s': median(walls),
        'lap_s': lap(ms),
        'rows_per_s': sum(rows_of(s) for s in ms) / result['measure_s'],
    }


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children = defaultdict(list)
    for s in spans:
        if s['parent']:
            children[s['parent']].append(s)
    out = {}
    for s in spans:
        lo, hi = s['start_ms'], s['end_ms']
        ivs = sorted((max(lo, c['start_ms']), min(hi, c['end_ms'])) for c in children[s['id']])
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s['id']] = (hi - lo) - covered
    return out


def mean_self_ms(spans):
    """Mean self time per span, by span name."""
    selfs = self_times(spans)
    acc = defaultdict(list)
    for s in spans:
        acc[s['name']].append(selfs[s['id']])
    return {name: (sum(v) / len(v) if v else 0.0) for name, v in acc.items()}


def per_layer(result, spans, failed_frac):
    ms = measured(result)
    traced = [s for s in ms if s['traced']]
    plain = [s for s in ms if not s['traced']]
    cores = result['cores']
    cpu = lambda s: s['counters']['cpu_ns'] / 1e9
    count = lambda name: (lambda s: s['counters'][name])
    ctx = result['context']
    cat = result['catalyst']
    micro = result['micro']
    host = result['host']
    out = {name: micro.get(name, 0.0) for name in MICRO}

    out['functions.task_cpu_s'] = per_op(traced, cpu)
    out['functions.shuffle_write_bytes'] = per_op(traced, count('shuffle_write_bytes'))
    out['functions.peak_exec_mem_mb'] = max(
        (s['counters']['peak_exec_mem'] for s in traced), default=0) / 2 ** 20

    folds = [s for s in ms if s['kind'] == 'fold']
    rollups = [s for s in ms if s['kind'].startswith('rollup')]
    traced_folds = [s for s in traced if s['kind'] == 'fold']
    out['streaming.fold_jobs'] = median([s['counters']['jobs'] for s in traced_folds])
    out['streaming.fold_write_bytes'] = median([s['counters']['output_bytes'] for s in traced_folds])
    out['streaming.store_rows'] = ctx.get('store_rows', 0)
    out['streaming.store_mb'] = ctx.get('store_bytes', 0) / 1e6
    out['streaming.fold_p50_s'] = median([s['wall_s'] for s in folds])
    out['streaming.rollup_p50_s'] = median([s['wall_s'] for s in rollups])

    out['entry.build_ms'] = per_op(traced, lambda s: s['build_s'] * 1e3)
    out['entry.build_jobs'] = per_op(traced, count('build_jobs'))

    for fam in FAMILIES:
        out[f'operators.task_cpu_s.{fam}'] = sum(
            median(v) for v in by_kind([s for s in traced if s['family'] == fam], cpu).values())

    n_traced = max(1, len(traced))
    for phase in ('analysis', 'optimization', 'planning'):
        out[f'catalyst.{phase}_ms'] = cat[f'{phase}_ms'] / n_traced

    out['scheduler.jobs_per_op'] = per_op(traced, count('jobs'))
    out['scheduler.stages_per_op'] = per_op(traced, count('stages'))
    out['scheduler.tasks_per_op'] = per_op(traced, count('tasks'))
    wall = sum(s['wall_s'] for s in traced)
    out['scheduler.idle_frac'] = 1 - sum(map(cpu, traced)) / (wall * cores) if wall else 0.0
    out['scheduler.gc_s'] = per_op(traced, lambda s: s['counters']['gc_ms'] / 1e3)

    both = set(s['kind'] for s in traced) & set(s['kind'] for s in plain)
    lap_plain = lap([s for s in plain if s['kind'] in both])
    lap_traced = lap([s for s in traced if s['kind'] in both])
    out['trace.overhead_frac'] = lap_traced / lap_plain - 1 if lap_plain else 0.0
    selfs = mean_self_ms(spans)
    for name in SPAN_NAMES:
        out[f'trace.self_ms.{name}'] = selfs.get(name, 0.0)

    out['accuracy.rel_err'] = ctx.get('rel_err') or 0.0
    out['setup.warmup_last_over_lap'] = (result['warmup_s'][-1] / lap(ms)
                                         if result['warmup_s'] and ms else 0.0)
    out['host.spin_ms'] = host['spin_ms']
    out['host.bare_job_ms'] = host['bare_job_ms']
    out['ref.fast_lane_s'] = host['fast_lane_s']
    out['run.failed_frac'] = failed_frac
    return out


PER_LAYER = (
    [('hll.update_ns', 'ns'), ('hll.serialize_ns', 'ns'), ('hll.deserialize_ns', 'ns'),
     ('hll.merge_sparse_ns', 'ns'), ('hll.merge_dense_ns', 'ns'), ('hll.cardinality_ns', 'ns'),
     ('hll.sketch_bytes_sparse', 'bytes'), ('hll.sketch_bytes_dense', 'bytes'),
     ('functions.pystr_render_ns', 'ns'), ('functions.task_cpu_s', 's'),
     ('functions.shuffle_write_bytes', 'bytes'), ('functions.peak_exec_mem_mb', 'MB'),
     ('streaming.fold_jobs', 'count'), ('streaming.fold_write_bytes', 'bytes'),
     ('streaming.store_rows', 'count'), ('streaming.store_mb', 'MB'),
     ('streaming.fold_p50_s', 's'), ('streaming.rollup_p50_s', 's'),
     ('entry.build_ms', 'ms'), ('entry.build_jobs', 'count')]
    + [(f'operators.task_cpu_s.{f}', 's') for f in FAMILIES]
    + [('catalyst.analysis_ms', 'ms'), ('catalyst.optimization_ms', 'ms'),
       ('catalyst.planning_ms', 'ms'), ('scheduler.jobs_per_op', 'count'),
       ('scheduler.stages_per_op', 'count'), ('scheduler.tasks_per_op', 'count'),
       ('scheduler.idle_frac', 'ratio'), ('scheduler.gc_s', 's'),
       ('trace.overhead_frac', 'ratio')]
    + [(f'trace.self_ms.{n}', 'ms') for n in SPAN_NAMES]
    + [('accuracy.rel_err', 'ratio'), ('setup.warmup_last_over_lap', 'ratio'),
       ('host.spin_ms', 'ms'), ('host.bare_job_ms', 'ms'), ('ref.fast_lane_s', 's'),
       ('run.failed_frac', 'ratio')])
