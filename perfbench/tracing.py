"""Per-layer measurement for the traced run, recorded entirely from the
benchmark's side of each call into ``pybel_spark``.

Two kinds of layer numbers:

- **Spans** (``Tracer``) around calls into the Spark-facing layers
  (``pipeline``, ``parse_index``). Each span runs its Spark jobs under its
  own job group, and when it ends the driver reads that group's jobs,
  stages and task metrics from Spark's status store.
- **In-process probes** (``layer_probes``) that call the per-row Python
  layers (``corpus``, ``pipeline.mask_non_bel_lines``, ``bel``) directly on
  a sample of the workload's documents in the driver, where per-document
  cost can be timed without the engine around it.
"""
import itertools
import time

from pybel_spark.bel.compiler import (DocumentCompiler, sanitize_lines,
                                      split_sections)
from pybel_spark.bel.control import is_control_line
from pybel_spark.bel.exc import BELParserWarning
from pybel_spark.bel.grammar import BELTermParser
from pybel_spark.corpus import extract_text, load_corpus_catalog
from pybel_spark.pipeline import mask_non_bel_lines

_MB = 1024.0 * 1024.0


class Tracer:
    """Spans kept in memory: name, start, end, parent span and trace id,
    plus the Spark counters of the jobs the span ran."""

    def __init__(self, spark, trace_id):
        self.spark = spark
        self.trace_id = trace_id
        self.spans = []
        self._stack = []
        self._ids = itertools.count(1)

    def span(self, name):
        return _Span(self, name)

    def by_name(self, name):
        """The last finished span with this name."""
        return [s for s in self.spans if s['name'] == name][-1]


class _Span:
    def __init__(self, tracer, name):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        self.id = next(t._ids)
        self.parent = t._stack[-1].id if t._stack else None
        self.group = '{}-{}'.format(t.trace_id, self.id)
        t._stack.append(self)
        t.spark.sparkContext.setJobGroup(self.group, self.name)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        sc = t.spark.sparkContext
        if t._stack:
            sc.setJobGroup(t._stack[-1].group, t._stack[-1].name)
        else:
            sc.setLocalProperty('spark.jobGroup.id', None)
        t.spans.append({
            'trace': t.trace_id, 'id': self.id, 'parent': self.parent,
            'name': self.name, 'start': self.start, 'end': end,
            'seconds': end - self.start,
            'spark': group_stats(t.spark, self.group),
        })
        return False


def group_stats(spark, group):
    """Jobs, stages, tasks and task metrics of one job group, read from
    the driver's status store once the listener bus has caught up."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(('jobs', 'stages', 'tasks', 'failed_tasks'), 0)
    out.update(dict.fromkeys(('executor_cpu_s', 'shuffle_write_mb',
                              'shuffle_read_mb', 'spill_mb', 'output_mb'),
                             0.0))
    stage_ids = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        out['jobs'] += 1
        out['stages'] += job.numCompletedStages() + job.numFailedStages()
        out['tasks'] += job.numCompletedTasks() + job.numFailedTasks()
        out['failed_tasks'] += job.numFailedTasks()
        ids = job.stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    for stage_id in stage_ids:
        stage = store.lastStageAttempt(stage_id)
        if str(stage.status()) == 'SKIPPED':
            continue
        out['executor_cpu_s'] += stage.executorCpuTime() / 1e9
        out['shuffle_write_mb'] += stage.shuffleWriteBytes() / _MB
        out['shuffle_read_mb'] += stage.shuffleReadBytes() / _MB
        out['spill_mb'] += (stage.memoryBytesSpilled()
                            + stage.diskBytesSpilled()) / _MB
        out['output_mb'] += stage.outputBytes() / _MB
    return out


# ------------------------------------------------------- in-process probes


def _median_us(fn, repeats=3):
    """Median over ``repeats`` calls of ``fn()``, in microseconds."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2] * 1e6


def layer_probes(rows):
    """Per-document cost of the per-row Python layers, measured in the
    driver on ``rows`` (``(html, text)`` pairs of the workload's own
    documents, in document order)."""
    htmls = [bytes(h) for h, t in rows if t is None and h is not None]
    texts = [t if t is not None else extract_text(bytes(h))
             for h, t in rows]
    masked = [mask_non_bel_lines(t) for t in texts]
    n_statements = sum(1 for lines in masked for ln in lines if ln)

    # a compiler per pass, as a fresh executor would see the sample: the
    # header/statement caches fill only from the documents it compiles
    catalog = load_corpus_catalog()

    def compile_all():
        compiler = DocumentCompiler(resources=catalog)
        for lines in masked:
            compiler.compile(lines)
        return compiler

    compile_us = _median_us(compile_all)

    # the term parser the compiler built for this header, rebuilt fresh
    # so its statement memo is cold
    term_parser = next(iter(compile_all()._header_cache.values()))[-1]
    statements = [ln for lines in masked
                  for _, ln in split_sections(sanitize_lines(lines))[2]
                  if not is_control_line(ln)]

    def parse_all():
        parser = BELTermParser(
            namespaces=term_parser.namespaces,
            namespace_patterns=term_parser.namespace_patterns)
        for ln in statements:
            try:
                parser.parse_statement(ln)
            except BELParserWarning:  # the pool holds invalid statements
                pass

    return {
        'corpus.extract_text.us_per_doc': _median_us(
            lambda: [extract_text(h) for h in htmls]) / max(1, len(htmls)),
        'pipeline.mask_non_bel_lines.us_per_doc': _median_us(
            lambda: [mask_non_bel_lines(t) for t in texts]) / len(texts),
        'bel.compile.us_per_doc': compile_us / len(masked),
        'bel.compile.us_per_statement': compile_us / max(1, n_statements),
        'bel.grammar.us_per_statement':
            _median_us(parse_all) / max(1, len(statements)),
    }
