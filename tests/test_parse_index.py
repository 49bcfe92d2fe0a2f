"""Cross-batch incremental parse index (pybel_spark/parse_index.py):
batch-order invariance vs the full recompute, replay idempotence,
zero-triple key memoization, and the options-fingerprint guard."""
import re

import pytest
from pyspark.sql import functions as F

from pybel_spark import parse_index as PI
from pybel_spark.corpus import CorpusSpec, generate_documents, wrap_html
from pybel_spark.pipeline import extract_triples_deduped, statement_keys
from pybel_spark.schemas import DOCUMENTS_SCHEMA

from .conftest import load_golden

N_DOCS = 80

#: option sets whose statement keys are frozen in golden/statement_key_hashes
KEY_HASH_OPTIONS = {
    'default': None,
    'required_annotations=Species': {'required_annotations': ['Species']},
}


@pytest.fixture(scope='module')
def docs(spark):
    df = generate_documents(spark, N_DOCS, partitions=4).persist()
    df.count()
    yield df
    df.unpersist()


def _halves(docs):
    even = docs.where(F.coalesce(F.crc32('url'), F.lit(0)) % 2 == 0)
    odd = docs.where(F.coalesce(F.crc32('url'), F.lit(0)) % 2 == 1)
    return even, odd


def test_incremental_equals_full_recompute(spark, docs, tmp_path):
    """bootstrap(A) + update(B) must reproduce extract_triples_deduped
    on A∪B exactly — the batch split is invisible in the output."""
    path = str(tmp_path / 'pidx')
    a, b = _halves(docs)
    assert a.count() and b.count()  # both halves non-trivial
    m1 = PI.parse_index_write(a, path)
    assert m1['novel_keys'] == m1['batch_keys'] > 0
    m2 = PI.parse_index_update(b, path)
    assert 0 < m2['novel_keys'] <= m2['batch_keys']
    got = {tuple(r) for r in PI.triples_from_index(spark, path).collect()}
    want = {tuple(r) for r in extract_triples_deduped(docs).collect()}
    assert got == want

    # batch-restricted read == the dedup-parse result for that batch alone
    got_b = {tuple(r) for r in
             PI.triples_from_index(spark, path, documents=b).collect()}
    want_b = {tuple(r) for r in extract_triples_deduped(b).collect()}
    assert got_b == want_b

    # replay: folding an already-seen batch is a no-op
    m3 = PI.parse_index_update(b, path)
    assert m3['novel_keys'] == 0
    stats = PI.parse_index_stats(spark, path)
    assert stats['keys'] == m1['batch_keys'] + m2['novel_keys']
    assert stats['distinct_triples'] == len(want)


def test_incremental_convenience_bootstraps_and_updates(spark, docs,
                                                        tmp_path):
    path = str(tmp_path / 'pidx2')
    a, b = _halves(docs)
    assert not PI.parse_index_exists(spark, path)
    got_a = {tuple(r) for r in
             PI.extract_triples_incremental(a, path).collect()}
    assert PI.parse_index_exists(spark, path)
    assert got_a == {tuple(r) for r in extract_triples_deduped(a).collect()}
    got_b = {tuple(r) for r in
             PI.extract_triples_incremental(b, path).collect()}
    assert got_b == {tuple(r) for r in extract_triples_deduped(b).collect()}


def test_zero_triple_keys_are_memoized(spark, tmp_path):
    """A statement that parses to NO triples must still be recorded —
    otherwise every future batch re-parses the corpus's garbage."""
    path = str(tmp_path / 'pidx3')
    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    # syntactically detected as BEL (function-call shape) but unparseable
    page = header + '\n' + 'notAFunction(HGNC:AKT1) frobnicates q(x)\n'
    docs = spark.createDataFrame(
        [('https://junk.test/0', None, wrap_html(page), None, 'en')],
        DOCUMENTS_SCHEMA)
    m1 = PI.parse_index_write(docs, path)
    assert m1['batch_keys'] > 0
    assert PI.triples_from_index(spark, path).count() == 0
    m2 = PI.parse_index_update(docs, path)
    assert m2['novel_keys'] == 0  # garbage parsed once, never again


def test_options_fingerprint_guard(spark, docs, tmp_path):
    path = str(tmp_path / 'pidx4')
    a, _b = _halves(docs)
    PI.parse_index_write(a, path,
                         compiler_options={'citation_clearing': False})
    with pytest.raises(ValueError, match='compiler options'):
        PI.parse_index_update(a, path)
    with pytest.raises(ValueError, match='compiler options'):
        PI.triples_from_index(spark, path, documents=a)
    # whole-index read carries no batch semantics → no guard needed
    PI.triples_from_index(spark, path).count()


def test_qualified_flag_separates_keys_across_batches(spark, tmp_path):
    """The same statement TEXT folded first in an unqualified context and
    later in a qualified one must be parsed again for the new flag — the
    index key includes the context gate, not just the bytes."""
    path = str(tmp_path / 'pidx5')
    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    stmt = 'p(HGNC:AKT1) increases p(HGNC:EGFR)'
    bare = header + '\n' + stmt + '\n'
    qualified = '\n'.join([
        header, 'SET Citation = {"PubMed", "j", "123"}',
        'SET Evidence = "e"', stmt, ''])
    d_bare = spark.createDataFrame(
        [('https://q.test/0', None, wrap_html(bare), None, 'en')],
        DOCUMENTS_SCHEMA)
    d_qual = spark.createDataFrame(
        [('https://q.test/1', None, wrap_html(qualified), None, 'en')],
        DOCUMENTS_SCHEMA)
    PI.parse_index_write(d_bare, path)
    assert not any(
        t['predicate'] == 'increasesAmountOf'
        for t in PI.triples_from_index(spark, path).collect())
    m = PI.parse_index_update(d_qual, path)
    assert m['novel_keys'] > 0
    assert any(
        t['predicate'] == 'increasesAmountOf'
        for t in PI.triples_from_index(spark, path).collect())


def _key_hash_corpus(spark):
    """50 corpus pages; five more that change as a re-crawl changes a page
    (own document name, own PMIDs), as text and as html-only rows; and
    pages with statements outside a full citation/evidence/annotation
    context."""
    spec = CorpusSpec()
    header = '\n'.join(spec.header)
    rows = []
    for page in range(0, 50, 10):
        text = re.sub(r'(SET DOCUMENT Name = "[^"]*)"',
                      r'\1 {}"'.format(page), spec.doc_text(page))
        text = re.sub(r'(SET Citation = \{"PubMed","[^"]*",")([0-9]+)"',
                      r'\g<1>{}\2"'.format(page), text)
        html, text = (None, text) if page % 20 else (wrap_html(text), None)
        rows.append(('https://recrawl.test/{}'.format(page), None, html, text,
                     'en'))
    cite = 'SET Citation = {"PubMed", "j", "123"}'
    ev = 'SET Evidence = "e"'
    stmt = 'p(HGNC:AKT1) increases p(HGNC:EGFR)'
    stmt2 = 'p(HGNC:TP53) decreases p(HGNC:MDM2)'
    hostile = [
        [stmt, 'complex(p(HGNC:AKT1), p(HGNC:EGFR))'],
        [cite, ev, 'UNSET Citation', stmt],
        [cite, stmt],
        [cite, ev, stmt],
        [cite, ev, 'SET Species = "9606"', stmt2],
        [cite, ev, 'SET Species = "bogus"', stmt2],
    ]
    rows += [('https://ctx.test/{}'.format(i), None, None,
              '\n'.join([header] + lines) + '\n', 'en')
             for i, lines in enumerate(hostile)]
    return generate_documents(spark, 50, partitions=2).unionByName(
        spark.createDataFrame(rows, DOCUMENTS_SCHEMA))


def _key_hashes(docs, compiler_options):
    return sorted(r['key_hash'] for r in PI._with_key_hash(
        statement_keys(docs, compiler_options=compiler_options))
        .select('key_hash').collect())


def test_statement_key_hashes_are_frozen(spark):
    """A parse index on disk is keyed by md5 of stage 1's exact (header,
    statement, qualified) row, the md5-prefixed header text included; any
    byte change there silently turns every stored key novel. The key set of
    a fixed corpus must stay what it was when the golden was recorded."""
    golden = load_golden('statement_key_hashes')
    docs = _key_hash_corpus(spark)
    assert set(golden) == set(KEY_HASH_OPTIONS)
    for name, options in KEY_HASH_OPTIONS.items():
        assert _key_hashes(docs, options) == golden[name], name
