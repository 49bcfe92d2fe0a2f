"""End-to-end Spark pipeline tests: corpus parity, extraction byte-identity,
fast-path equivalence, and the checkpoint-resume drill."""
import shutil
import tempfile

import pytest

from pybel_spark.corpus import CorpusSpec, extract_text, generate_documents, wrap_html
from pybel_spark.pipeline import (
    build_graph, extract_triples, mask_non_bel_lines, read_graph,
    run_checkpointed,
)

N_DOCS = 150


@pytest.fixture(scope='module')
def docs(spark):
    df = generate_documents(spark, N_DOCS, partitions=4).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope='module')
def spec():
    return CorpusSpec()


def expected_triples(spec, n_docs):
    out = set()
    for i in range(n_docs):
        for idx in spec.unit_indices(i):
            out.update(tuple(t) for t in spec.units[idx]['golden']['triples'])
    return out


def test_extraction_byte_identity(spec):
    """html → text must invert wrap_html exactly (the per-url contract)."""
    for i in (0, 5, 29, 60, 115):
        text = spec.doc_text(i)
        assert extract_text(wrap_html(text, title='Page {}'.format(i))) == text


def test_detection_keeps_all_bel_lines(spec):
    for i in (0, 1, 2, 50):
        text = spec.doc_text(i)
        masked = mask_non_bel_lines(text)
        original = text.split('\n')
        assert len(masked) == len(original)
        # all header + unit lines survive detection
        for line in spec.header:
            assert line in masked
        for idx in spec.unit_indices(i):
            for line in spec.units[idx]['lines']:
                assert line in masked


def test_pipeline_triples_parity(spark, docs, spec):
    got = {tuple(r) for r in build_graph(docs).triples.collect()}
    assert got == expected_triples(spec, N_DOCS)


def test_fast_path_matches_full_path(spark, docs):
    fast = {tuple(r) for r in extract_triples(docs).collect()}
    full = {tuple(r) for r in build_graph(docs).triples.collect()}
    assert fast == full


def test_pipeline_warning_counts(spark, docs, spec):
    got = build_graph(docs).warnings.count()
    expected = sum(
        len(spec.units[idx]['golden']['warnings'])
        for i in range(N_DOCS) for idx in spec.unit_indices(i)
    )
    assert got == expected


def test_checkpoint_resume(spark, docs, spec):
    """Manifest-committed run: re-run skips everything; a torn commit
    (manifest entry dropped, orphan data dirs left behind) resumes with the
    MERGE anti-join keeping the on-disk state duplicate-free WITHOUT any
    read-time dedup; compaction collapses to one commit and expires
    orphans."""
    import json
    import os

    out_dir = tempfile.mkdtemp(prefix='pybel_spark_ckpt_')
    try:
        r1 = run_checkpointed(spark, docs, out_dir, n_buckets=8)
        assert r1['processed_buckets'] == 8
        assert r1['skipped_buckets'] == 0

        # full re-run: all buckets already committed
        r2 = run_checkpointed(spark, docs, out_dir, n_buckets=8)
        assert r2['processed_buckets'] == 0
        assert r2['skipped_buckets'] == 8

        graph = read_graph(spark, out_dir)
        got = {
            (r['triple_subject'], r['triple_predicate'], r['triple_object'])
            for r in graph['edges']
            .where('triple_subject is not null')
            .select('triple_subject', 'triple_predicate', 'triple_object')
            .distinct().collect()
        }
        assert got == expected_triples(spec, N_DOCS)
        # transactional MERGE: the COMMITTED state is duplicate-free as
        # read — read_graph applies no dropDuplicates
        assert graph['edges'].count() \
            == graph['edges'].select('edge_id').distinct().count()
        assert graph['nodes'].count() \
            == graph['nodes'].select('node_id').distinct().count()

        # lineage metrics survive in the manifest
        from pybel_spark.pipeline import read_lineage
        lineage = read_lineage(spark, out_dir)
        assert lineage.count() == 8
        assert lineage.where("status = 'done'").count() == 8

        # simulate a torn commit: drop the LAST commit from the manifest
        # but leave its data dirs as orphans (what a kill between data
        # write and manifest swap leaves behind)
        mpath = os.path.join(out_dir, 'MANIFEST.json')
        with open(mpath) as f:
            manifest = json.load(f)
        torn = manifest['commits'].pop()
        with open(mpath, 'w') as f:
            json.dump(manifest, f)

        r3 = run_checkpointed(spark, docs, out_dir, n_buckets=8)
        assert r3['processed_buckets'] == len(torn['buckets'])
        assert r3['skipped_buckets'] == 8 - len(torn['buckets'])

        # resume re-merged the torn buckets: still exact, still no dups
        graph = read_graph(spark, out_dir)
        assert graph['edges'].count() \
            == graph['edges'].select('edge_id').distinct().count()

        # compaction: one commit, orphans expired, content preserved
        from pybel_spark.pipeline import compact_output
        n_edges_before = graph['edges'].count()
        stats = compact_output(spark, out_dir)
        assert stats['edges']['files_after'] <= stats['edges']['files_before']
        with open(mpath) as f:
            compacted = json.load(f)
        assert len(compacted['commits']) == 1
        cid = compacted['commits'][0]['commit_id']
        for table in ('nodes', 'edges', 'warnings'):
            leftover = os.listdir(os.path.join(out_dir, table))
            assert leftover == [cid], (table, leftover)
        graph2 = read_graph(spark, out_dir)
        assert graph2['edges'].count() == n_edges_before
        got2 = {
            (r['triple_subject'], r['triple_predicate'], r['triple_object'])
            for r in graph2['edges']
            .where('triple_subject is not null')
            .select('triple_subject', 'triple_predicate', 'triple_object')
            .distinct().collect()
        }
        assert got2 == expected_triples(spec, N_DOCS)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_extract_triples_deduped_equivalence(spark):
    """The statement-level pre-parse dedup path emits exactly the same
    distinct triples as the per-document parse."""
    from pybel_spark.corpus import generate_documents
    from pybel_spark.pipeline import extract_triples, extract_triples_deduped

    docs = generate_documents(spark, 300, partitions=4)
    a = {tuple(r) for r in extract_triples(docs).collect()}
    b = {tuple(r) for r in extract_triples_deduped(docs).collect()}
    assert a == b and a


def test_malformed_web_inputs_survive(spark):
    """Hostile pages — invalid UTF-8, binary junk, truncated markup, empty
    payloads — must not fail the job; they contribute zero or partial
    statements and the rest of the corpus compiles normally."""
    from pybel_spark.corpus import CorpusSpec, wrap_html
    from pybel_spark.pipeline import build_graph, extract_triples
    from pybel_spark.schemas import DOCUMENTS_SCHEMA

    spec = CorpusSpec()
    good_text = spec.doc_text(1)
    rows = [
        ('https://ok.test/1', None, wrap_html(good_text), None, 'en'),
        ('https://bad.test/utf8', None,
         b'<html><p>\xff\xfe\x80 SET DOCUMENT</p></html>', None, 'en'),
        ('https://bad.test/binary', None, bytes(range(256)), None, 'en'),
        ('https://bad.test/truncated', None, b'<html><p>unclosed', None, 'en'),
        ('https://bad.test/empty', None, b'', None, 'en'),
        ('https://bad.test/nulls', None, None, None, 'en'),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    result = build_graph(docs, persist=True)
    metrics = {r['url']: r for r in result.doc_metrics.collect()}
    assert len(metrics) == 6
    assert metrics['https://ok.test/1']['n_statements'] > 0
    triples = {tuple(r) for r in extract_triples(docs).collect()}
    expected = {tuple(t) for idx in spec.unit_indices(1)
                for t in spec.units[idx]['golden']['triples']}
    assert triples == expected


def test_deduped_hostile_context_equivalence(spark):
    """ADVICE r2: a statement OUTSIDE a valid citation/evidence context must
    not leak triples through the pre-parse dedup path — while structural
    statements (no context needed) still emit theirs. The dedup path must
    equal the per-document path on exactly this hostile-page shape."""
    from pybel_spark.corpus import CorpusSpec, wrap_html
    from pybel_spark.pipeline import extract_triples, extract_triples_deduped
    from pybel_spark.schemas import DOCUMENTS_SCHEMA

    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    stmt = 'p(HGNC:AKT1) increases p(HGNC:EGFR)'
    structural = 'complex(p(HGNC:AKT1), p(HGNC:EGFR))'
    cite = 'SET Citation = {"PubMed", "j", "123"}'
    ev = 'SET Evidence = "e"'
    pages = [
        # qualified statement BEFORE any citation; structural out of context
        header + '\n' + stmt + '\n' + structural + '\n',
        # qualified statement after UNSET Citation
        '\n'.join([header, cite, ev, 'UNSET Citation', stmt, '']),
        # citation set but evidence missing
        '\n'.join([header, cite, stmt, '']),
        # valid context: same statement text — the dedup key must separate
        # this occurrence from the unqualified ones above
        '\n'.join([header, cite, ev, stmt, '']),
    ]
    rows = [('https://ctx.test/{}'.format(i), None, wrap_html(t), None, 'en')
            for i, t in enumerate(pages)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    full = {tuple(r) for r in extract_triples(docs).collect()}
    dedup = {tuple(r) for r in extract_triples_deduped(docs).collect()}
    assert dedup == full
    # the qualified triple comes only from the valid page
    assert ('HGNC:AKT1', 'increasesAmountOf', 'HGNC:EGFR') in full
    # dropping the valid page removes it — proving pages 0-2 don't leak
    docs_hostile = spark.createDataFrame(rows[:3], DOCUMENTS_SCHEMA)
    full_h = {tuple(r) for r in extract_triples(docs_hostile).collect()}
    dedup_h = {tuple(r) for r in extract_triples_deduped(docs_hostile).collect()}
    assert dedup_h == full_h
    assert ('HGNC:AKT1', 'increasesAmountOf', 'HGNC:EGFR') not in full_h
    # structural triples from the complex() term survive
    assert any(t[1] == 'partOf' for t in full_h)


def test_deduped_required_annotations_equivalence(spark):
    """ADVICE r2: under required_annotations, only statements whose in-situ
    context carries the annotation emit triples — through both paths."""
    from pybel_spark.corpus import CorpusSpec, wrap_html
    from pybel_spark.pipeline import extract_triples, extract_triples_deduped
    from pybel_spark.schemas import DOCUMENTS_SCHEMA

    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    cite = 'SET Citation = {"PubMed", "j", "123"}'
    ev = 'SET Evidence = "e"'
    with_ann = '\n'.join([
        header, cite, ev, 'SET Species = "9606"',
        'p(HGNC:AKT1) increases p(HGNC:EGFR)', ''])
    without_ann = '\n'.join([
        header, cite, ev,
        'p(HGNC:AKT1) decreases p(HGNC:EGFR)', ''])
    rows = [
        ('https://ann.test/0', None, wrap_html(with_ann), None, 'en'),
        ('https://ann.test/1', None, wrap_html(without_ann), None, 'en'),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    opts = {'required_annotations': ['Species']}
    full = {tuple(r) for r in extract_triples(
        docs, compiler_options=opts).collect()}
    dedup = {tuple(r) for r in extract_triples_deduped(
        docs, compiler_options=opts).collect()}
    assert dedup == full
    assert any(t[1] == 'increasesAmountOf' for t in full)
    assert not any(t[1] == 'decreasesAmountOf' for t in full)


def test_deduped_randomized_control_fuzz(spark):
    """Differential fuzz: random hostile control-line interleavings (SET /
    UNSET citation, evidence, annotations, statement-before-context,
    UNSET_ALL clears), then the same under hostile headers (an annotation
    redefined — the first definition wins; an annotation URL the catalog
    lacks — the keyword stays undefined) with annotation values outside
    their lists — the pre-parse dedup path must equal the per-document
    path on every seeded corpus."""
    import itertools
    import random

    from pybel_spark.corpus import CorpusSpec, wrap_html
    from pybel_spark.pipeline import extract_triples, extract_triples_deduped
    from pybel_spark.schemas import DOCUMENTS_SCHEMA

    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    statements = [
        'p(HGNC:AKT1) increases p(HGNC:EGFR)',
        'p(HGNC:TP53) decreases p(HGNC:MDM2)',
        'complex(p(HGNC:AKT1), p(HGNC:EGFR))',
        'g(HGNC:AKT1) hasVariant g(HGNC:AKT1, var("c.1521_1523delCTT"))',
        'p(HGNC:CASP8) -> path(MESHD:Apoptosis)',
        'act(p(HGNC:GSK3B)) =| bp(GO:"apoptotic process")',
    ]
    controls = [
        'SET Citation = {"PubMed", "j", "100"}',
        'SET Citation = {"PubMed", "j", "200"}',
        'SET Citation = {"BAD_TYPE", "x"}',        # invalid → citation unset
        'SET Evidence = "e1"',
        'SET Evidence = "e2"',
        'UNSET Citation',
        'UNSET Evidence',
        'UNSET ALL',
        'SET Species = "9606"',
        'UNSET Species',
    ]
    rng = random.Random(20260816)
    rows = []
    for page in range(24):
        lines = [header]
        for _ in range(rng.randint(3, 14)):
            if rng.random() < 0.5:
                lines.append(rng.choice(controls))
            else:
                lines.append(rng.choice(statements))
        rows.append(('https://fuzz.test/{}'.format(page), None,
                     wrap_html('\n'.join(lines) + '\n'), None, 'en'))
    missing_url = 'DEFINE ANNOTATION Species AS URL "file://missing.belanno"'
    no_species = [ln for ln in spec.header if 'Species' not in ln]
    species_list = 'DEFINE ANNOTATION Species AS LIST {"mouse"}'
    hostile_headers = [
        header + '\n' + species_list,
        '\n'.join(no_species + [species_list] + [
            ln for ln in spec.header if 'Species' in ln]),
        header + '\nDEFINE ANNOTATION TESTAN1 AS LIST {"9"}',
        '\n'.join(no_species + [missing_url]),
        '\n'.join(no_species + [missing_url, species_list]),
        # no term/pattern annotation left: every annotation key is accepted
        '\n'.join([ln for ln in no_species if 'ANNOTATION' not in ln]
                  + [missing_url]),
    ]
    hostile_controls = controls + [
        'SET Species = "mouse"',
        'SET Species = "0000"',
        'SET Species = {"9606", "bogus"}',
        'SET TESTAN1 = "9"',
        'SET TESTAN1 = "1"',
        'SET CellLine = "not-a-cell-line"',
    ]
    # these pages open in a full citation/evidence context, so their
    # annotation lines decide the flag under required_annotations; half of
    # their statements occur once in the corpus (any dbSNP:rs<n> matches
    # the header's pattern namespace), so a wrong flag on that line cannot
    # hide behind the same triple from another page
    unique = itertools.count()
    for page in range(24, 84):
        lines = [rng.choice(hostile_headers), controls[0], controls[3]]
        for _ in range(rng.randint(3, 14)):
            if rng.random() < 0.5:
                lines.append(rng.choice(hostile_controls))
            elif rng.random() < 0.5:
                lines.append(rng.choice(statements))
            else:
                lines.append('g(dbSNP:rs{0}) increases g(dbSNP:rs{0}0)'
                             .format(next(unique)))
        rows.append(('https://fuzz.test/{}'.format(page), None,
                     wrap_html('\n'.join(lines) + '\n'), None, 'en'))
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    for opts in (None, {'required_annotations': ['Species']},
                 {'citation_clearing': False}):
        full = {tuple(r) for r in extract_triples(
            docs, compiler_options=opts).collect()}
        dedup = {tuple(r) for r in extract_triples_deduped(
            docs, compiler_options=opts).collect()}
        assert dedup == full, opts


def test_checkpoint_on_hadoop_filesystem_uri(spark, docs, spec):
    """The manifest protocol must work against scheme'd URIs through the
    Hadoop FileSystem API (code-review r3: the POSIX-only version silently
    reprocessed everything on hdfs://). file:// exercises the same py4j
    code path via LocalFileSystem."""
    import tempfile

    local = tempfile.mkdtemp(prefix='pybel_spark_hfs_')
    out_dir = 'file://' + local
    try:
        r1 = run_checkpointed(spark, docs, out_dir, n_buckets=4)
        assert r1['processed_buckets'] == 4
        r2 = run_checkpointed(spark, docs, out_dir, n_buckets=4)
        assert r2 == {'skipped_buckets': 4, 'processed_buckets': 0}
        graph = read_graph(spark, out_dir)
        got = {
            (r['triple_subject'], r['triple_predicate'], r['triple_object'])
            for r in graph['edges']
            .where('triple_subject is not null')
            .select('triple_subject', 'triple_predicate', 'triple_object')
            .distinct().collect()
        }
        assert got == expected_triples(spec, N_DOCS)
        assert graph['edges'].count() \
            == graph['edges'].select('edge_id').distinct().count()

        from pybel_spark.pipeline import compact_output
        n_before = graph['edges'].count()
        stats = compact_output(spark, out_dir)
        assert 'edges' in stats
        graph2 = read_graph(spark, out_dir)
        assert graph2['edges'].count() == n_before
    finally:
        shutil.rmtree(local, ignore_errors=True)


class TestSingleWriterLease:
    """CONCURRENCY.md contract: one writer per out_dir, enforced.

    A second live writer fails fast; a dead writer's lock is broken
    immediately (kill/resume drill); a writer that lost its lease refuses
    to publish (fencing)."""

    def _fs(self, out_dir):
        from pybel_spark.pipeline import _OutputFS

        return _OutputFS(None, out_dir)

    def test_second_live_writer_fails_fast(self, spark, docs):
        import tempfile

        from pybel_spark.pipeline import (
            ConcurrentWriteError, _WriterLease, run_checkpointed,
        )

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            holder = _WriterLease(self._fs(out_dir)).acquire()
            with pytest.raises(ConcurrentWriteError, match='live writer'):
                run_checkpointed(spark, docs, out_dir, n_buckets=2)
            # the failed acquire must not have broken the holder's lock
            holder.check()
            holder.release()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_dead_pid_lock_is_broken(self, spark, docs):
        """SIGKILLed writer on the same host -> immediate takeover, no
        lease-timeout wait (what lets drill_resume.py restart at once)."""
        import json
        import os
        import subprocess
        import sys
        import tempfile
        import time

        from pybel_spark.pipeline import run_checkpointed

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            child = subprocess.Popen([sys.executable, '-c', 'pass'])
            child.wait()  # reaped: pid is dead, ProcessLookupError on kill-0
            import socket

            with open(os.path.join(out_dir, 'WRITER.lock'), 'w') as f:
                json.dump({'token': 'dead', 'pid': child.pid,
                           'host': socket.gethostname(),
                           'ts': time.time()}, f)
            r = run_checkpointed(spark, docs, out_dir, n_buckets=2)
            assert r['processed_buckets'] == 2
            assert not os.path.exists(os.path.join(out_dir, 'WRITER.lock'))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_expired_cross_host_lease_is_broken(self, spark, docs):
        import json
        import os
        import tempfile

        from pybel_spark.pipeline import run_checkpointed

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            with open(os.path.join(out_dir, 'WRITER.lock'), 'w') as f:
                json.dump({'token': 'old', 'pid': 1,
                           'host': 'some-other-executor-host',
                           'ts': 12345.0}, f)  # epoch-ancient
            r = run_checkpointed(spark, docs, out_dir, n_buckets=2,
                                 lease_seconds=60.0)
            assert r['processed_buckets'] == 2
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_stale_break_is_atomic_rename(self):
        """Two breakers racing on the same stale lock: rename_file is
        atomic, so exactly one wins the source file — the loser gets
        False and must re-read instead of deleting anything."""
        import json
        import tempfile
        import time

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            fs = self._fs(out_dir)
            fs.write_atomic('WRITER.lock', json.dumps(
                {'token': 'stale', 'pid': 1, 'host': 'elsewhere',
                 'ts': time.time() - 10_000}).encode())
            assert fs.rename_file('WRITER.lock', 'WRITER.lock.broken.a')
            assert not fs.rename_file('WRITER.lock', 'WRITER.lock.broken.b')
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_break_race_loser_restores_stolen_fresh_lock(self):
        """The r5 break-path fix: an acquirer whose rename captures a
        COMPETITOR'S FRESH lock (the competitor broke the same stale
        lock and re-created between our read and our rename) must
        restore the fresh lock no-clobber and back off — previously the
        delete-based break left two writers holding leases."""
        import json
        import tempfile
        import time

        from pybel_spark.pipeline import ConcurrentWriteError, _WriterLease

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            fs = self._fs(out_dir)
            stale = json.dumps({'token': 'stale', 'pid': 1,
                                'host': 'elsewhere',
                                'ts': time.time() - 10_000}).encode()
            fs.write_atomic('WRITER.lock', stale)

            competitor = _WriterLease(self._fs(out_dir))

            class RacingFS:
                """Delegates to fs, but lets the competitor break the
                stale lock and acquire FIRST, right before our rename —
                the exact interleaving of the race."""

                def __init__(self, inner):
                    self._inner = inner
                    self._raced = False

                def __getattr__(self, name):
                    return getattr(self._inner, name)

                def rename_file(self, src, dst):
                    if not self._raced:
                        self._raced = True
                        assert self._inner.rename_file(
                            src, src + '.competitor')
                        self._inner.delete_file(src + '.competitor')
                        competitor.fs = self._inner
                        competitor.acquire()
                    return self._inner.rename_file(src, dst)

            loser = _WriterLease(RacingFS(self._fs(out_dir)))
            with pytest.raises(ConcurrentWriteError, match='live writer'):
                loser.acquire()
            # the competitor's fresh lock survived the loser's attempt
            competitor.check()
            competitor.release()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_fencing_refuses_publish_after_takeover(self):
        import tempfile

        from pybel_spark.pipeline import ConcurrentWriteError, _WriterLease

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            loser = _WriterLease(self._fs(out_dir)).acquire()
            # simulate a lease takeover (e.g. loser stalled past the lease)
            self._fs(out_dir).delete_file('WRITER.lock')
            winner = _WriterLease(self._fs(out_dir)).acquire()
            with pytest.raises(ConcurrentWriteError, match='lease.*lost'):
                loser.renew()
            winner.check()  # winner is unaffected
            # loser's release must not remove the winner's lock
            loser.release()
            winner.check()
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def test_lock_released_after_successful_run(self, spark, docs):
        import os
        import tempfile

        from pybel_spark.pipeline import compact_output, run_checkpointed

        out_dir = tempfile.mkdtemp(prefix='pybel_spark_lock_')
        try:
            run_checkpointed(spark, docs, out_dir, n_buckets=2)
            assert not os.path.exists(os.path.join(out_dir, 'WRITER.lock'))
            compact_output(spark, out_dir)  # compaction takes the same lease
            assert not os.path.exists(os.path.join(out_dir, 'WRITER.lock'))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


def test_triples_delta_statuses(spark):
    from pybel_spark.pipeline import triples_delta
    a = spark.createDataFrame(
        [('s1', 'increases', 'o1'), ('s2', 'decreases', 'o2'),
         ('s2', 'decreases', 'o2')],  # dup collapses
        'subject string, predicate string, object string')
    b = spark.createDataFrame(
        [('s1', 'increases', 'o1'), ('s3', 'association', 'o3')],
        'subject string, predicate string, object string')
    got = {(r['subject'], r['status'])
           for r in triples_delta(a, b).collect()}
    assert got == {('s1', 'kept'), ('s2', 'removed'), ('s3', 'added')}
