"""KG-construction benchmark for pybel_spark on ``local[4]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload syndicated_crawl --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Each run starts one Spark session, sets up the workload's inputs, then
repeats the workload's job until ``--seconds`` have passed and at least
``MEDIAN_REPS`` repetitions ran, checking every output against the pool
goldens. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
reports the per-layer metrics of one traced repetition and the layer
probes, and writes the spans to ``.perfbench_out/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. See ``perfbench/README.md``.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: repetitions every run measures, and the only ones its medians cover:
#: the JVM keeps warming, so later repetitions run faster, and a median
#: over however many fit in ``--seconds`` would move with the host's speed
MEDIAN_REPS = 2

#: documents of the workload sampled for the in-process layer probes
PROBE_DOCS = 300


def metric_units(section):
    """{name: unit} of one metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return {m['name']: m['unit'] for m in json.load(f)[section]}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True,
                   choices=WORKLOADS + ('all',))
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work_dir):
    """local[4] session whose scratch files stay inside ``work_dir``."""
    from pybel_spark.session import get_spark
    tmp = os.path.join(work_dir, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (ROOT, os.environ.get('PYTHONPATH')) if p)
    # -Xms and pre-touch make the 1 GB heap resident from the start, so
    # the JVM's share of peak_rss_mb is a visible constant
    spark = get_spark(app_name='perfbench', cores=4, extra_conf={
        'spark.driver.memory': '1g',
        'spark.local.dir': tmp,
        'spark.driver.extraJavaOptions':
            '-Djava.io.tmpdir={} -XX:-UsePerfData -Xms1g '
            '-XX:+AlwaysPreTouch'.format(tmp),
        'spark.ui.showConsoleProgress': 'false',
    })
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def stop_spark(spark):
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, 'proc', None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(values):
    """Median, or None (JSON null) when nothing was measured."""
    return statistics.median(values) if values else None


class Run:
    """One workload in one Spark session: set-up, timed repetitions and,
    when traced, the per-layer measurements."""

    def __init__(self, spark, sampler, name, seed, n_docs, work_dir,
                 session_s):
        from perfbench.workloads import Workload
        self.spark = spark
        self.sampler = sampler
        self.seed = seed
        self.w = Workload(spark, name, seed, n_docs, work_dir)
        self.session_s = session_s
        self.reps = []

    def setup(self):
        """Set up the workload; returns its phases in seconds."""
        phases = {'session_s': self.session_s}
        for phase, step in (('materialize_s', self.w.materialize),
                            ('base_index_s', self.w.build_base_index),
                            ('warm_up_s', self.w.warm_up)):
            t0 = time.perf_counter()
            step()
            phases[phase] = time.perf_counter() - t0
        return phases

    def repetition(self, tracer=None):
        """One timed job; returns its record (failed reps included)."""
        from perfbench.tracing import group_stats
        k = len(self.reps)
        self.w.prepare(self.w.path('rep'))
        group = 'perfbench-rep{}'.format(k)
        sc = self.spark.sparkContext
        if tracer is None:
            sc.setJobGroup(group, 'repetition')
        rec = {'ok': False}
        self.sampler.take_peak_pss()
        cpu0 = self.sampler.cpu_seconds()
        t0 = time.perf_counter()
        try:
            triples, metrics = self.w.job(tracer)
            rec['job_s'] = time.perf_counter() - t0
            rec['cpu_s'] = self.sampler.cpu_seconds() - cpu0
            rec['peak_rss_mb'] = self.sampler.take_peak_pss() / 2 ** 20
            rec['call_metrics'] = metrics
            rec.update(self.w.verify(triples, metrics, tracer))
        except Exception:
            traceback.print_exc()
        if tracer is None:
            rec['failed_tasks'] = group_stats(self.spark, group)[
                'failed_tasks']
            sc.setLocalProperty('spark.jobGroup.id', None)
        else:
            rec['failed_tasks'] = sum(
                s['spark']['failed_tasks'] for s in tracer.spans)
        rec['ok'] = rec['ok'] and rec['failed_tasks'] == 0
        self.reps.append(rec)
        return rec

    def measure(self, seconds):
        """Repeat the job until ``seconds`` have passed and at least
        MEDIAN_REPS repetitions ran."""
        t_end = time.perf_counter() + seconds
        while len(self.reps) < MEDIAN_REPS or time.perf_counter() < t_end:
            self.repetition()

    def end_to_end(self, setup_s):
        """Medians over the first MEDIAN_REPS repetitions whose job
        returned (a failed check is reported through ``failed``, not by
        dropping its timing)."""
        done = [r for r in self.reps[:MEDIAN_REPS] if 'job_s' in r]
        checked = [r for r in done if 'precision' in r]
        job_s = _median([r['job_s'] for r in done])
        return {
            'setup_s': setup_s,
            'job_s': job_s,
            'statements_per_s': self.w.statements / job_s if job_s else None,
            'cpu_s': _median([r['cpu_s'] for r in done]),
            'peak_rss_mb': _median([r['peak_rss_mb'] for r in done]),
            'triple_precision': min((r['precision'] for r in checked),
                                    default=0.0),
            'triple_recall': min((r['recall'] for r in checked),
                                 default=0.0),
        }

    def traced(self):
        """Per-layer metrics: in-process probes on a doc sample, one traced
        repetition of the job, and probes of the layers the job does not
        call, all on this workload's documents. The traced repetition sits
        between two untraced ones, so the warming trend from one
        repetition to the next cancels out of ``trace.overhead_pct``."""
        from perfbench import tracing
        tracer = tracing.Tracer(self.spark, 'perfbench-{}-{}'.format(
            self.w.name, self.seed))
        before = self.repetition()
        rec = self.repetition(tracer)
        after = self.repetition()
        layers = tracing.layer_probes(self.w.sample_rows(PROBE_DOCS))
        if 'job_s' not in rec:  # the traced job raised: no spans to read
            return layers, tracer.spans
        layers.update(self.w.layer_spans(tracer, rec['call_metrics']))
        layers['trace.job_s'] = rec['job_s']
        untraced = [r['job_s'] for r in (before, after) if 'job_s' in r]
        if untraced:
            layers['trace.overhead_pct'] = 100.0 * (
                rec['job_s'] / statistics.mean(untraced) - 1.0)
        return layers, tracer.spans


def run_one(spark, sampler, name, args, work_dir, session_s, n_docs=None):
    from perfbench.workloads import DEFAULT_DOCS
    from perfbench.procfs import HostGuard
    guard = HostGuard()
    run = Run(spark, sampler, name, args.seed,
              n_docs or DEFAULT_DOCS[name], work_dir, session_s)
    phases = run.setup()
    if args.trace:
        metrics, spans = run.traced()
        out_dir = os.path.join(ROOT, '.perfbench_out')
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, 'trace-{}-seed{}.json'.format(
                name, args.seed)), 'w') as f:
            json.dump({'workload': name, 'seed': args.seed,
                       'metrics': metrics, 'spans': spans}, f, indent=1)
        units = metric_units('per_layer')
    else:
        run.measure(args.seconds)
        metrics = run.end_to_end(sum(phases.values()))
        units = metric_units('end_to_end')
    host = guard.report()
    attempted = len(run.reps)
    failed = sum(1 for r in run.reps if not r['ok'])
    _report(name, run, metrics, units, phases, host, attempted, failed)
    return {'correct': failed == 0, 'attempted': attempted,
            'failed': failed, 'metrics': metrics, 'units': units}


def _report(name, run, metrics, units, phases, host, attempted, failed):
    """Human-readable summary on stderr; stdout keeps the JSON line last."""
    jobs = [r['job_s'] for r in run.reps if 'job_s' in r]
    lines = ['[{}] seed={} docs={} statements={} reps={} failed_ratio={:.4f}'
             .format(name, run.seed, run.w.n, run.w.statements, attempted,
                     failed / attempted),
             '  job_s samples: {}'.format(
                 ', '.join('{:.3f}'.format(j) for j in jobs)),
             '  setup: {}'.format(', '.join(
                 '{}={:.3f}'.format(k, v) for k, v in phases.items())),
             '  host: {}'.format(json.dumps(host))]
    for key in sorted(metrics):
        value = metrics[key]
        lines.append('  {:<44} {:>14} {}'.format(
            key, 'n/a' if value is None else '{:.4f}'.format(value),
            units[key]))
    print('\n'.join(lines), file=sys.stderr, flush=True)


def main(argv=None):
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench.procfs import TreeSampler
    from perfbench.workloads import WORKLOADS
    names = WORKLOADS if args.workload == 'all' else (args.workload,)
    work_dir = os.path.join(ROOT, '.perfbench_work', str(os.getpid()))
    os.makedirs(work_dir)
    spark = None
    try:
        with TreeSampler() as sampler:
            t0 = time.perf_counter()
            spark = start_spark(work_dir)
            session_s = time.perf_counter() - t0
            results = {name: run_one(spark, sampler, name, args, work_dir,
                                     session_s) for name in names}
            stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    def key(name, metric):
        return metric if len(names) == 1 else '{}.{}'.format(name, metric)

    out = {
        'correct': all(r['correct'] for r in results.values()),
        'attempted': sum(r['attempted'] for r in results.values()),
        'failed': sum(r['failed'] for r in results.values()),
        'metrics': {key(n, m): {'value': v, 'unit': r['units'][m]}
                    for n, r in results.items()
                    for m, v in r['metrics'].items()},
    }
    print(json.dumps(out), flush=True)


if __name__ == '__main__':
    main()
