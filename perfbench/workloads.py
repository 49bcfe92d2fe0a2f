"""The benchmark's inputs, jobs and output oracle.

Every input is derived from the synthetic corpus (``pybel_spark.corpus``):
document ``i`` is a pure function of ``i``, and ``--seed`` only shifts the
index range, so a seed fixes the inputs exactly. The program under test
sees nothing but the parquet files written here.

The expected output of every job is rebuilt from the frozen per-unit
goldens in ``fixtures/pool.json``: the distinct triples of a document range
are the union of the golden triples of the pool units its documents embed
(``CorpusSpec.unit_indices``). The per-page rewrite used by
``unique_pages`` and ``recrawl_incremental`` changes only the document
name and citation PMIDs, never a triple, so the same oracle holds.
"""
import os
import shutil
from contextlib import nullcontext

from pyspark.sql import functions as F

from pybel_spark.corpus import CorpusSpec, load_pool
from pybel_spark.parse_index import (parse_index_update, parse_index_write,
                                     triples_from_index)
from pybel_spark.pipeline import (build_graph, mask_non_bel_lines,
                                  read_graph, read_lineage, run_checkpointed,
                                  statement_keys)
from pybel_spark.schemas import DOCUMENTS_SCHEMA

#: ``pybel_spark pipeline``'s default bucket count. The default 8 commit
#: groups cost ~2.3 s of fixed Spark orchestration each on local[4], so a
#: repetition would take ~18 s whatever the corpus size and a run could
#: hold only one; 2 groups keep the first-commit and MERGE paths at a
#: quarter of the fixed cost.
N_BUCKETS = 64
COMMIT_GROUPS = 2

#: documents per workload (recrawl: the base index covers N, the update
#: batch is N docs overlapping it by half). The re-crawl is smaller because
#: it also builds the base index in set-up and copies it per repetition.
DEFAULT_DOCS = {
    'syndicated_crawl': 4000,
    'unique_pages': 4000,
    'recrawl_incremental': 3000,
}
WORKLOADS = tuple(DEFAULT_DOCS)

#: share of re-crawled pages that come back changed (rewritten per page)
RECRAWL_CHANGED_MOD = 10

#: index offset per seed; modulo keeps warc_ts inside pandas' datetime range
_SEED_STRIDE = 20000
_SEED_MOD = 10007


def seed_start(seed):
    return (seed % _SEED_MOD) * _SEED_STRIDE


# ---------------------------------------------------------------- corpus


def corpus_frame(spark, lo, hi):
    """Documents [lo, hi) exactly as ``generate_documents`` builds them
    (``CorpusSpec.doc_row``), for an arbitrary index range."""
    import pandas as pd

    pool = load_pool()
    columns = DOCUMENTS_SCHEMA.fieldNames()

    def build(batches):
        spec = CorpusSpec(pool)
        for pdf in batches:
            rows = [spec.doc_row(int(i)) for i in pdf['id']]
            yield pd.DataFrame(rows, columns=columns)

    return (spark.range(lo, hi, numPartitions=8)
            .mapInPandas(build, schema=DOCUMENTS_SCHEMA))


_NAME_RE = r'SET DOCUMENT Name = "([^"]*)"'
_CITATION_RE = r'(SET Citation = \{"PubMed","[^"]*",")([0-9]+)"'


def _rewrite(col, page):
    """Give a page its own document name and citation PMIDs. Pool PMIDs
    are all five digits, so prefixing the page index keeps them unique
    per page."""
    col = F.regexp_replace(col, F.lit(_NAME_RE),
                           F.concat(F.lit('SET DOCUMENT Name = "$1 '),
                                    page, F.lit('"')))
    return F.regexp_replace(col, F.lit(_CITATION_RE),
                            F.concat(F.lit('$1'), page, F.lit('$2"')))


def personalize(docs, where=None):
    """Rewrite the pages selected by ``where`` (default: all) with a Spark
    column expression; text and html-only pages alike."""
    page = F.regexp_extract('url', r'/([0-9]+)$', 1)
    sel = F.lit(True) if where is None else where
    text = F.when(sel & F.col('text').isNotNull(),
                  _rewrite(F.col('text'), page)).otherwise(F.col('text'))
    html = F.when(sel & F.col('html').isNotNull(),
                  _rewrite(F.col('html').cast('string'), page)
                  .cast('binary')).otherwise(F.col('html'))
    return docs.select('url', 'warc_ts', html.alias('html'),
                       text.alias('text'), 'lang')


def recrawl_changed():
    """Every RECRAWL_CHANGED_MOD-th page by url hash, so changed pages mix
    text and html-only pages."""
    return F.pmod(F.xxhash64('url'), F.lit(RECRAWL_CHANGED_MOD)) == 0


def write_docs(df, path):
    df.write.mode('overwrite').parquet(path)
    return df.sparkSession.read.parquet(path)


# ---------------------------------------------------------------- oracle


def expected_triples(spec, lo, hi):
    units = {u for i in range(lo, hi) for u in spec.unit_indices(i)}
    return {tuple(t) for u in units
            for t in spec.units[u]['golden']['triples']}


def statement_lines(spec, lo, hi):
    """BEL candidate statement lines of documents [lo, hi) — the pipeline's
    ``n_statements`` (non-blank lines after ``mask_non_bel_lines``). The
    per-page rewrite keeps every line, so this holds for all workloads."""
    return sum(sum(1 for ln in mask_non_bel_lines(spec.doc_text(i)) if ln)
               for i in range(lo, hi))


def check_triples(got, expected):
    """Precision, recall and whether the output is exactly right."""
    got = set(got)
    hit = len(got & expected)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(expected) if expected else 1.0
    return {'precision': precision, 'recall': recall,
            'ok': got == expected}


# ---------------------------------------------------------------- jobs


class Workload:
    """One workload. Set-up: ``materialize()`` the input documents,
    ``build_base_index()``, ``warm_up()``. Per repetition: ``prepare()``
    (untimed), ``job()`` (the timed calls into the public API) and
    ``verify()``."""

    def __init__(self, spark, name, seed, n_docs, work_dir):
        self.spark = spark
        self.name = name
        self.n = n_docs
        self.work_dir = work_dir
        self.spec = CorpusSpec()
        self.start = seed_start(seed)
        if name == 'recrawl_incremental':
            half = n_docs // 2
            self.base_range = (self.start, self.start + n_docs)
            self.range = (self.start + half, self.start + half + n_docs)
        else:
            self.range = (self.start, self.start + n_docs)
        self.expected = expected_triples(self.spec, *self.range)
        self.statements = statement_lines(self.spec, *self.range)
        self.docs = None
        self.base_index = None
        self._target = None

    def path(self, *parts):
        return os.path.join(self.work_dir, self.name, *parts)

    # -- set-up

    def materialize(self):
        """Write the job's input documents."""
        lo, hi = self.range
        docs = corpus_frame(self.spark, lo, hi)
        if self.name == 'unique_pages':
            docs = personalize(docs)
        elif self.name == 'recrawl_incremental':
            docs = personalize(docs, recrawl_changed())
        self.docs = write_docs(docs, self.path('docs'))

    def build_base_index(self):
        """The re-crawl's starting state: a parse index over the original
        crawl (unchanged pages). Other workloads have none."""
        if self.name != 'recrawl_incremental':
            return
        base = write_docs(corpus_frame(self.spark, *self.base_range),
                          self.path('base_docs'))
        self.base_index = self.path('base_index')
        parse_index_write(base, self.base_index)

    def warm_up(self):
        """One untimed repetition of the job at full size, so JIT, codegen
        and the Python workers are warm before timing."""
        target = self.path('warm')
        self.prepare(target)
        self.verify(*self.job())
        shutil.rmtree(target)

    # -- one repetition

    def prepare(self, rep_dir):
        """Untimed: a fresh output dir, or a private copy of the base
        index for the incremental update."""
        shutil.rmtree(rep_dir, ignore_errors=True)
        if self.name == 'recrawl_incremental':
            shutil.copytree(self.base_index, rep_dir)
        self._target = rep_dir

    def job(self, tracer=None):
        """The timed public-API calls; returns (triples, call metrics)."""
        span = tracer.span if tracer is not None else _untraced
        if self.name == 'recrawl_incremental':
            with span('parse_index.update'):
                m = parse_index_update(self.docs, self._target)
            with span('parse_index.triples_from_index'):
                triples = triples_from_index(self.spark, self._target,
                                             self.docs).collect()
        else:
            with span('pipeline.run_checkpointed'):
                m = run_checkpointed(self.spark, self.docs, self._target,
                                     n_buckets=N_BUCKETS,
                                     commit_groups=COMMIT_GROUPS)
            with span('pipeline.read_graph'):
                triples = read_graph(self.spark,
                                     self._target)['triples'].collect()
        return [tuple(r) for r in triples], m

    def verify(self, triples, metrics, tracer=None):
        """Output check: triples against the oracle, plus the job's own
        invariants (every bucket committed, then a no-op resume; or a
        sane novelty count)."""
        span = tracer.span if tracer is not None else _untraced
        res = check_triples(triples, self.expected)
        if self.name == 'recrawl_incremental':
            res['ok'] = res['ok'] and \
                0 < metrics['novel_keys'] <= metrics['batch_keys']
        else:
            res['ok'] = res['ok'] and metrics == {
                'skipped_buckets': 0, 'processed_buckets': N_BUCKETS}
            with span('pipeline.noop_resume'):
                again = run_checkpointed(self.spark, self.docs, self._target,
                                         n_buckets=N_BUCKETS,
                                         commit_groups=COMMIT_GROUPS)
            res['ok'] = res['ok'] and again == {
                'skipped_buckets': N_BUCKETS, 'processed_buckets': 0}
        return res

    # -- traced run only

    def sample_rows(self, k):
        """(html, text) of the first ``k`` input documents, in order."""
        lo, _ = self.range
        rows = (self.docs.select('url', 'html', 'text')
                .where(_page_index() < lo + k).collect())
        rows.sort(key=lambda r: int(r['url'].rsplit('/', 1)[1]))
        return [(r['html'], r['text']) for r in rows]

    def layer_spans(self, tracer, job_metrics):
        """After a traced ``job()``: probe the layers that job did not call,
        on this workload's documents, and collect every span-based layer
        metric. Crawl workloads also fold their documents into a parse
        index bootstrapped from their first half; the re-crawl workload
        also runs the checkpointed pipeline on its batch."""
        span = tracer.span
        out = {}
        if self.name == 'recrawl_incremental':
            update = job_metrics
            index_before = self.base_index
            index = self._target
            pipeline_out = self.path('pipeline')
            shutil.rmtree(pipeline_out, ignore_errors=True)
            with span('pipeline.run_checkpointed'):
                run_checkpointed(self.spark, self.docs, pipeline_out,
                                 n_buckets=N_BUCKETS,
                                 commit_groups=COMMIT_GROUPS)
            with span('pipeline.read_graph'):
                read_graph(self.spark, pipeline_out)['triples'].collect()
            with span('pipeline.noop_resume'):
                run_checkpointed(self.spark, self.docs, pipeline_out,
                                 n_buckets=N_BUCKETS,
                                 commit_groups=COMMIT_GROUPS)
        else:
            pipeline_out = self._target
            lo, hi = self.range
            index_before = self.path('index_base')
            index = self.path('index')
            shutil.rmtree(index_before, ignore_errors=True)
            shutil.rmtree(index, ignore_errors=True)
            parse_index_write(
                self.docs.where(_page_index() < (lo + hi) // 2),
                index_before)
            shutil.copytree(index_before, index)
            with span('parse_index.update'):
                update = parse_index_update(self.docs, index)
            with span('parse_index.triples_from_index'):
                triples_from_index(self.spark, index, self.docs).collect()
        with span('pipeline.parse_stage'):
            build_graph(self.docs).parsed.count()
        with span('parse_index.statement_keys'):
            statement_keys(self.docs).count()

        run = tracer.by_name('pipeline.run_checkpointed')
        for key in ('jobs', 'stages', 'tasks'):
            out['pipeline.spark_' + key] = run['spark'][key]
        for key in ('failed_tasks', 'executor_cpu_s', 'shuffle_write_mb',
                    'shuffle_read_mb', 'spill_mb', 'output_mb'):
            out['pipeline.' + key] = run['spark'][key]
        out['pipeline.output_files'] = dir_stats(pipeline_out)[0]
        graph = read_graph(self.spark, pipeline_out)
        emitted = read_lineage(self.spark, pipeline_out) \
            .groupBy().sum('n_edges').collect()[0][0]
        out['pipeline.edge_dedup_ratio'] = \
            graph['edges'].count() / max(1, emitted)
        for name in ('parse_stage', 'run_checkpointed', 'read_graph',
                     'noop_resume'):
            out['pipeline.{}_s'.format(name)] = \
                tracer.by_name('pipeline.' + name)['seconds']
        for name in ('statement_keys', 'update', 'triples_from_index'):
            out['parse_index.{}_s'.format(name)] = \
                tracer.by_name('parse_index.' + name)['seconds']
        out['parse_index.batch_keys'] = update['batch_keys']
        out['parse_index.novel_keys'] = update['novel_keys']
        out['parse_index.novel_ratio'] = \
            update['novel_keys'] / max(1, update['batch_keys'])
        out['parse_index.appended_mb'] = (
            dir_stats(index)[1] - dir_stats(index_before)[1]) / 2 ** 20
        return out


def _page_index():
    return F.regexp_extract('url', r'/([0-9]+)$', 1).cast('long')


def dir_stats(path):
    """(parquet part files, total bytes of all files) under ``path``."""
    files = nbytes = 0
    for base, _, names in os.walk(path):
        for name in names:
            files += name.endswith('.parquet')
            nbytes += os.path.getsize(os.path.join(base, name))
    return files, nbytes


def _untraced(name):
    return nullcontext()
