"""Smoke tests of the benchmark itself, at a few hundred documents.

Run from the repository root (about three minutes on 4 cores):

    python3 perfbench/smoke.py

Checks that the /proc sampler keeps the CPU of children that exit, that
the output check rejects a dropped triple (both directly and through a
whole run), that each workload runs, verifies and reports exactly the
metrics ``BENCHMARK.json`` names, and that a traced run whose job raises
reports the failure instead of crashing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procfs, run, workloads  # noqa: E402

SMOKE_DOCS = 300


def check_cpu_of_exited_child(spark, work_dir):
    """A child that burns CPU and exits between two readings still counts
    (it lands in this process's cutime when reaped)."""
    pids = procfs.tree_pids()
    before = procfs.tree_cpu_seconds(pids)
    subprocess.run([sys.executable, '-c',
                    'import time\nt = time.process_time()\n'
                    'while time.process_time() - t < 0.5: pass'],
                   check=True)
    gained = procfs.tree_cpu_seconds(procfs.tree_pids()) - before
    assert gained >= 0.45, gained


def check_oracle_rejects_dropped_triple(spark, work_dir):
    spec = workloads.CorpusSpec()
    expected = workloads.expected_triples(spec, 0, SMOKE_DOCS)
    assert workloads.check_triples(expected, expected) == {
        'precision': 1.0, 'recall': 1.0, 'ok': True}
    dropped = workloads.check_triples(sorted(expected)[1:], expected)
    assert not dropped['ok'] and dropped['recall'] < 1.0
    extra = workloads.check_triples(expected | {('a', 'b', 'c')}, expected)
    assert not extra['ok'] and extra['precision'] < 1.0


def check_rewrite_keeps_triples(spark, work_dir):
    """The per-page rewrite makes every header and PMID page-specific and
    leaves the line structure alone (the oracle's assumption)."""
    lo, hi = 0, 20
    rows = workloads.personalize(
        workloads.corpus_frame(spark, lo, hi)).collect()
    spec = workloads.CorpusSpec()
    from pybel_spark.corpus import extract_text
    for r in rows:
        i = int(r['url'].rsplit('/', 1)[1])
        text = r['text'] if r['text'] is not None \
            else extract_text(bytes(r['html']))
        assert 'Synthetic Corpus Document {}"'.format(i) in text
        assert '"{}100'.format(i) in text  # pool PMIDs are 100xx
        assert text.count('\n') == spec.doc_text(i).count('\n')


def _names(section):
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return {m['name'] for m in json.load(f)[section]}


def _run(spark, sampler, name, work_dir, trace):
    args = SimpleNamespace(seed=7, seconds=0.1, trace=trace)
    return run.run_one(spark, sampler, name, args, work_dir, 1.0,
                       n_docs=SMOKE_DOCS)


def check_each_workload_end_to_end(spark, work_dir):
    with procfs.TreeSampler() as sampler:
        for name in workloads.WORKLOADS:
            res = _run(spark, sampler, name, work_dir, trace=0)
            assert res['correct'], (name, res)
            assert res['attempted'] >= run.MEDIAN_REPS, (name, res)
            assert set(res['metrics']) == _names('end_to_end'), name
            m = res['metrics']
            assert m['triple_precision'] == m['triple_recall'] == 1.0
            assert all(v > 0 for v in m.values()), (name, m)


def check_traced_run_reports_every_layer(spark, work_dir):
    with procfs.TreeSampler() as sampler:
        for name in ('unique_pages', 'recrawl_incremental'):
            res = _run(spark, sampler, name, work_dir, trace=1)
            assert res['correct'], (name, res)
            assert set(res['metrics']) == _names('per_layer'), (
                name, set(res['metrics']) ^ _names('per_layer'))
            m = res['metrics']
            assert m['pipeline.spark_jobs'] > 0
            assert m['pipeline.failed_tasks'] == 0
            assert m['parse_index.novel_keys'] > 0


def check_run_flags_dropped_triple(spark, work_dir):
    """A job whose output lost one triple fails every repetition."""
    job = workloads.Workload.job

    def lossy_job(self, tracer=None):
        triples, metrics = job(self, tracer)
        return sorted(triples)[1:], metrics

    workloads.Workload.job = lossy_job
    try:
        with procfs.TreeSampler() as sampler:
            res = _run(spark, sampler, 'syndicated_crawl', work_dir, 0)
    finally:
        workloads.Workload.job = job
    assert not res['correct']
    assert res['failed'] == res['attempted'] >= 1
    assert res['metrics']['triple_recall'] < 1.0


def check_traced_run_reports_raising_job(spark, work_dir):
    """A traced job that raises is counted as failed, not a crash."""
    job = workloads.Workload.job

    def raising_job(self, tracer=None):
        if tracer is not None:
            raise RuntimeError('injected failure')
        return job(self, tracer)

    workloads.Workload.job = raising_job
    try:
        with procfs.TreeSampler() as sampler:
            res = _run(spark, sampler, 'recrawl_incremental', work_dir, 1)
    finally:
        workloads.Workload.job = job
    assert not res['correct']
    assert res['failed'] == 1 and res['attempted'] == 3, res
    assert 'trace.job_s' not in res['metrics']


CHECKS = [
    check_cpu_of_exited_child,
    check_oracle_rejects_dropped_triple,
    check_rewrite_keeps_triples,
    check_each_workload_end_to_end,
    check_traced_run_reports_every_layer,
    check_run_flags_dropped_triple,
    check_traced_run_reports_raising_job,
]


def main():
    parent = os.path.join(ROOT, '.perfbench_work')
    os.makedirs(parent, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix='smoke-', dir=parent)
    spark = run.start_spark(work_dir)
    failed = 0
    try:
        for check in CHECKS:
            t0 = time.perf_counter()
            try:
                check(spark, work_dir)
                status = 'PASS'
            except Exception:
                traceback.print_exc()
                status = 'FAIL'
                failed += 1
            print('{} {} ({:.1f} s)'.format(
                status, check.__name__, time.perf_counter() - t0),
                flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == '__main__':
    main()
