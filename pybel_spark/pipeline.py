"""The KG-construction pipeline: documents → nodes/edges/triples/warnings.

Spark-first design notes (100 TB scale):

- The entire extract→detect→parse→ground→canonicalize block is ONE
  ``mapInPandas`` stage: it is embarrassingly parallel by document row, so the
  only shuffles in the whole job are the content-hash dedups at the end.
- Grounding dictionaries are broadcast once per executor
  (``SparkContext.broadcast``), not re-pickled per task; inside the UDF they
  are plain dict lookups (the reference's SQLite round-trip becomes a hash
  probe).
- Dedup keys are md5 content hashes → uniformly distributed → the dedup
  shuffle has no skew by construction. AQE is on for runtime coalescing.
- Checkpoint-resume: documents are bucketed by ``xxhash64(url)``; a lineage
  row per bucket records completion + metrics. A re-run anti-joins completed
  buckets and appends only missing ones (reference has no equivalent — the
  north rule requires it).
"""
import re

from pyspark.sql import DataFrame, functions as F

from .bel.compiler import DocumentCompiler
from .corpus import extract_text, load_corpus_catalog
from .schemas import LINEAGE_SCHEMA, PARSED_SCHEMA

#: lines that can possibly be BEL content: control/definition records or
#: function-call-shaped statements. Everything else on a web page is prose.
BEL_LINE_RE = re.compile(
    r'^\s*(?:SET\s|UNSET[\s{]|UNSET$|DEFINE\s|[A-Za-z]+\s*\()')


def mask_non_bel_lines(text):
    """Statement detection: blank out non-BEL lines, preserving line numbers
    (so warning line numbers refer to the original page text)."""
    return [
        line if BEL_LINE_RE.match(line) else ''
        for line in text.split('\n')
    ]


def _page_texts(pdf):
    """Each row's page text: the ``text`` column, else ``extract_text`` of
    the ``html`` column if the batch has one, else None."""
    htmls = pdf['html'] if 'html' in pdf else [None] * len(pdf)
    for html, text in zip(htmls, pdf['text']):
        if text is None and html is not None:
            text = extract_text(bytes(html))
        yield text


def make_parse_func(catalog, compiler_options=None, spark=None):
    """Build the Arrow-batched parse function for ``mapInPandas``.

    ``catalog`` must be picklable (DictCatalog / ResourceCatalog). When a
    SparkSession is provided, the catalog ships as a BROADCAST variable —
    serialized once and cached per executor — instead of being pickled into
    every task closure; at real namespace scale (HGNC/GO/CHEBI, tens of MB)
    that is the difference between per-task and per-executor transfer.
    """
    import hashlib

    import pandas as pd

    options = compiler_options or {}
    catalog_bc = None
    if spark is not None:
        catalog_bc = spark.sparkContext.broadcast(catalog)

    def parse(batches):
        resources = catalog_bc.value if catalog_bc is not None else catalog
        compiler = DocumentCompiler(resources=resources, **options)
        for pdf in batches:
            out = {k: [] for k in (
                'url', 'lang', 'text_sha256', 'n_lines', 'n_statements',
                'nodes', 'edges', 'warnings')}
            for url, text, lang in zip(
                    pdf['url'], _page_texts(pdf), pdf['lang']):
                if text is None:
                    text = ''
                lines = mask_non_bel_lines(text)
                n_statements = sum(1 for ln in lines if ln)
                result = compiler.compile(lines)
                out['url'].append(url)
                out['lang'].append(lang)
                out['text_sha256'].append(
                    hashlib.sha256(text.encode('utf8')).hexdigest())
                out['n_lines'].append(len(lines))
                out['n_statements'].append(n_statements)
                out['nodes'].append(result['nodes'])
                out['edges'].append(result['edges'])
                out['warnings'].append(result['warnings'])
            yield pd.DataFrame(out)

    return parse


def extract_triples(documents: DataFrame, catalog=None,
                    compiler_options=None, distinct=True) -> DataFrame:
    """Fast path for the north-star output: documents → (subject, predicate,
    object) triples only.

    Same compile as build_graph, but the UDF ships just three string columns
    back through Arrow instead of the full nested node/edge/warning rows —
    an order of magnitude less serialization and shuffle input for the most
    common job.
    """
    import pandas as pd

    from .schemas import TRIPLES_SCHEMA

    if catalog is None:
        catalog = load_corpus_catalog()
    options = compiler_options or {}
    catalog_bc = documents.sparkSession.sparkContext.broadcast(catalog)

    def parse(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value, **options)
        for pdf in batches:
            subjects, predicates, objects = [], [], []
            for text in _page_texts(pdf):
                if text is None:
                    continue
                result = compiler.compile(mask_non_bel_lines(text))
                for e in result['edges']:
                    if e['triple_subject'] is not None:
                        subjects.append(e['triple_subject'])
                        predicates.append(e['triple_predicate'])
                        objects.append(e['triple_object'])
            yield pd.DataFrame({
                'subject': subjects, 'predicate': predicates, 'object': objects})

    # explicit projection: Catalyst can't prune columns through mapInPandas,
    # so drop url/warc_ts/lang before the UDF → the parquet scan reads only
    # (html, text)
    triples = documents.select('html', 'text') \
        .mapInPandas(parse, schema=TRIPLES_SCHEMA)
    return triples.distinct() if distinct else triples


def _dedup_parse_options(compiler_options):
    """Compiler options of the stage-3 re-parse: ``required_annotations``
    is dropped, because stage 1 already applied it in each statement's
    real context and the stage-3 dummy context deliberately can't
    satisfy it."""
    options = dict(compiler_options or {})
    options.pop('required_annotations', None)
    return options


def _statement_split_func(catalog_bc, compiler_options):
    """Stage-1 mapInPandas function: split each page into its definition
    header + candidate statement lines, tagging each statement with its
    in-situ qualified-context flag (see :func:`extract_triples_deduped`
    for why this flag, and only this flag, of the surrounding control
    state reaches the triple)."""
    import hashlib

    import pandas as pd

    options = compiler_options or {}

    def split(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value, **options)
        for pdf in batches:
            headers, stmts, quals = [], [], []
            for text in _page_texts(pdf):
                if text is None:
                    continue
                header, pairs = compiler.statement_contexts(
                    mask_non_bel_lines(text))
                header = hashlib.md5(header.encode('utf8')).hexdigest() \
                    + '\n' + header
                for stmt, qualified in pairs:
                    headers.append(header)
                    stmts.append(stmt)
                    quals.append(qualified)
            yield pd.DataFrame({'header': headers, 'statement': stmts,
                                'qualified': quals})

    return split


def statement_keys(documents: DataFrame, catalog=None, compiler_options=None,
                   _catalog_bc=None) -> DataFrame:
    """Distinct (header, statement, qualified) statement keys of a corpus
    — stages 1+2 of the dedup-parse pipeline, exposed for the cross-batch
    parse index (:mod:`pybel_spark.parse_index`). The header column is
    md5-prefixed exactly as :func:`extract_triples_deduped` stage 3
    expects. Every row carries its page's full header text (about 850 B
    on the synthetic corpus, against about 40 B of statement), so the
    header dominates the bytes the distinct shuffles."""
    if catalog is None and _catalog_bc is None:
        catalog = load_corpus_catalog()
    catalog_bc = _catalog_bc if _catalog_bc is not None else \
        documents.sparkSession.sparkContext.broadcast(catalog)
    split = _statement_split_func(catalog_bc, compiler_options)
    return (
        documents.select('html', 'text')
        .mapInPandas(
            split, schema='header string, statement string, qualified boolean')
        .distinct()
    )


def _statement_parse_func(catalog_bc, parse_options, with_key_hash=False):
    """Stage-3 mapInPandas function: parse each distinct statement key
    under a context reconstructed from its qualified flag. With
    ``with_key_hash`` the input rows carry a ``key_hash`` column that is
    propagated onto every emitted triple (the parse-index layout)."""
    import pandas as pd

    def parse(batches):
        compiler = DocumentCompiler(resources=catalog_bc.value,
                                    **parse_options)
        for pdf in batches:
            keys, subjects, predicates, objects = [], [], [], []
            key_vals = pdf['key_hash'] if with_key_hash else \
                [None] * len(pdf)
            for khash, header, stmt, qualified in zip(
                    key_vals, pdf['header'], pdf['statement'],
                    pdf['qualified']):
                header_lines = header.split('\n')[1:]  # drop the md5 prefix
                if qualified:
                    # the in-situ context had citation+evidence(+required
                    # annotations); a dummy context reproduces the gate
                    doc_lines = header_lines + [
                        'SET Citation = {"PubMed", "1"}',
                        'SET SupportingText = "-"',
                        stmt,
                    ]
                else:
                    # bare context: qualified relations raise exactly as
                    # they did in situ; structural triples still emit
                    doc_lines = header_lines + [stmt]
                result = compiler.compile(doc_lines)
                for e in result['edges']:
                    if e['triple_subject'] is not None:
                        keys.append(khash)
                        subjects.append(e['triple_subject'])
                        predicates.append(e['triple_predicate'])
                        objects.append(e['triple_object'])
            out = {}
            if with_key_hash:
                out['key_hash'] = keys
            out['subject'] = subjects
            out['predicate'] = predicates
            out['object'] = objects
            yield pd.DataFrame(out)

    return parse


def extract_triples_deduped(documents: DataFrame, catalog=None,
                            compiler_options=None) -> DataFrame:
    """Distinct triples via statement-level pre-parse dedup.

    Web corpora are syndication/boilerplate heavy: the same BEL statement
    under the same definition header appears on many pages. A (subject,
    predicate, object) triple is a pure function of (definition header,
    statement line, *was-the-statement-in-a-qualified-context*): the
    citation/evidence TEXT never reaches the triple, but its PRESENCE
    gates whether a qualified relation emits one at all
    (compiler._handle_qualified raises MissingCitationException /
    MissingSupportWarning / MissingAnnotationWarning otherwise), while
    structural statements (hasMembers, hasComponent, hasVariant, term-only
    lines) emit their triples regardless of context. So the pipeline can
    parse each DISTINCT (header, statement, qualified-flag) triple ONCE:

    stage 1 (cheap, map-only): split each page into header + candidate
    statement lines and tag each statement with its in-situ qualified
    flag, using the compiler's own context code
    (:meth:`DocumentCompiler.statement_contexts`: same header cache, same
    control-line handling, same guard) without parsing any statement;
    stage 2: shuffle-distinct on md5(header)+header+statement+flag
    (uniform keys; the header text dominates the row); stage 3: parse the
    survivors — qualified ones under a dummy citation/evidence,
    unqualified ones bare (so qualified relations are rejected exactly as
    they were in situ). Parse cost
    scales with UNIQUE content, not corpus size. The output equals
    :func:`extract_triples` on ANY corpus, including hostile pages with
    statements outside citation context and under ``required_annotations``
    (see tests). Use :func:`extract_triples` when per-document context
    (warnings, metrics, edges) is needed.
    """
    from .schemas import TRIPLES_SCHEMA

    if catalog is None:
        catalog = load_corpus_catalog()
    parse_options = _dedup_parse_options(compiler_options)
    catalog_bc = documents.sparkSession.sparkContext.broadcast(catalog)
    unique = statement_keys(documents, catalog, compiler_options,
                            _catalog_bc=catalog_bc)
    parse = _statement_parse_func(catalog_bc, parse_options)
    return unique.mapInPandas(parse, schema=TRIPLES_SCHEMA).distinct()


class GraphResult:
    """Handles to the pipeline's output DataFrames."""

    def __init__(self, parsed: DataFrame):
        self.parsed = parsed

    @property
    def nodes(self) -> DataFrame:
        return (
            self.parsed
            .select(F.explode('nodes').alias('n'))
            .select('n.*')
            .dropDuplicates(['node_id'])
        )

    @property
    def edges(self) -> DataFrame:
        """Globally deduplicated edges (content-hash key, first writer wins —
        same union semantics as the reference's insert-if-new)."""
        return (
            self.parsed
            .select(F.col('url'), F.explode('edges').alias('e'))
            .select('url', 'e.*')
            .dropDuplicates(['edge_id'])
        )

    @property
    def warnings(self) -> DataFrame:
        return (
            self.parsed
            .select(F.col('url'), F.explode('warnings').alias('w'))
            .select('url', 'w.*')
        )

    @property
    def triples(self) -> DataFrame:
        """Distinct (subject, predicate, object) — the north-star output."""
        return (
            self.parsed
            .select(F.explode('edges').alias('e'))
            .select(
                F.col('e.triple_subject').alias('subject'),
                F.col('e.triple_predicate').alias('predicate'),
                F.col('e.triple_object').alias('object'),
            )
            .where(F.col('subject').isNotNull())
            .distinct()
        )

    @property
    def doc_metrics(self) -> DataFrame:
        return self.parsed.select(
            'url', 'lang', 'text_sha256', 'n_lines', 'n_statements',
            F.size('edges').alias('n_edges'),
            F.size('warnings').alias('n_warnings'),
        )


def build_graph(documents: DataFrame, catalog=None, compiler_options=None,
                persist=False) -> GraphResult:
    """Run the parse pipeline over a documents DataFrame."""
    if catalog is None:
        catalog = load_corpus_catalog()
    parse = make_parse_func(catalog, compiler_options,
                            spark=documents.sparkSession)
    # prune to the columns the UDF consumes (mapInPandas defeats automatic
    # column pruning): warc_ts never reaches the parser
    parsed = documents.select('url', 'html', 'text', 'lang') \
        .mapInPandas(parse, schema=PARSED_SCHEMA)
    if persist:
        parsed = parsed.persist()
    return GraphResult(parsed)


# ----------------------------------------------------------------------- #
# checkpoint-resumable run: manifest-committed transactional MERGE
#
# The on-disk layout is Iceberg-shaped: data files live under
# <out_dir>/<table>/<commit_id>/ and are INVISIBLE until <out_dir>/
# MANIFEST.json — the single metadata pointer — references the commit.
# The manifest is replaced atomically (tmp + os.rename), so readers see
# either the pre-commit or post-commit state, never a partial one. A kill
# at ANY point leaves at most orphan data dirs that no reader touches and
# that the deterministic commit id lets the resume overwrite in place.
# One writer per out_dir is assumed (the driver), exactly like an Iceberg
# single-table committer without a lock service.

_MANIFEST = 'MANIFEST.json'
_LOCK = 'WRITER.lock'
_TABLES = ('nodes', 'edges', 'warnings')


class ConcurrentWriteError(RuntimeError):
    """A second writer tried to commit into an out_dir that already has a
    live writer, or a writer lost its lease mid-run (see CONCURRENCY.md)."""


class _OutputFS:
    """Filesystem shim for the manifest protocol.

    Local (scheme-less) paths use POSIX I/O with a truly atomic
    ``os.rename`` commit. Scheme'd URIs (``hdfs://``, ``s3a://``,
    ``file://`` …) go through the Hadoop FileSystem API via the session's
    JVM gateway, so checkpoint/resume/read work against the same
    filesystems Spark itself writes to. Caveat shared with every
    rename-based committer: HDFS rename-over-existing needs a
    delete-then-rename pair (a crash exactly between them loses only the
    POINTER, never data — the next writer re-lists data dirs and rewrites
    it), and S3A rename is copy-based, exactly as it is for Hive/older
    Iceberg commit paths.
    """

    def __init__(self, spark, out_dir: str):
        self.out_dir = out_dir.rstrip('/')
        self.remote = '://' in out_dir
        if self.remote:
            jvm = spark._jvm
            self._jvm = jvm
            self._jpath = jvm.org.apache.hadoop.fs.Path
            self._fs = self._jpath(self.out_dir).getFileSystem(
                spark._jsc.hadoopConfiguration())

    def _full(self, *parts):
        import os

        return os.path.join(self.out_dir, *parts) if not self.remote \
            else '/'.join((self.out_dir,) + parts)

    def read_bytes(self, *parts):
        if not self.remote:
            import os

            path = self._full(*parts)
            if not os.path.exists(path):
                return None
            with open(path, 'rb') as f:
                return f.read()
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return None
        stream = self._fs.open(path)
        try:
            return bytes(self._jvm.org.apache.commons.io.IOUtils
                         .toByteArray(stream))
        finally:
            stream.close()

    def write_atomic(self, name: str, data: bytes):
        if not self.remote:
            import os

            os.makedirs(self.out_dir, exist_ok=True)
            tmp = self._full(name + '.tmp')
            with open(tmp, 'wb') as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self._full(name))
            return
        tmp = self._jpath(self._full(name + '.tmp'))
        final = self._jpath(self._full(name))
        out = self._fs.create(tmp, True)
        try:
            out.write(data)
        finally:
            out.close()
        if self._fs.exists(final):
            self._fs.delete(final, False)
        self._fs.rename(tmp, final)

    def create_exclusive(self, name: str, data: bytes) -> bool:
        """Create ``name`` iff it does not exist; True on success.

        Local: ``O_CREAT|O_EXCL`` (atomic on POSIX). Remote: Hadoop
        ``create(path, overwrite=false)`` — atomic on HDFS; on S3A it is
        check-then-create, the same residual race every rename-based
        committer has there (documented in CONCURRENCY.md).
        """
        if not self.remote:
            import os

            os.makedirs(self.out_dir, exist_ok=True)
            try:
                fd = os.open(self._full(name),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                os.write(fd, data)
                os.fsync(fd)
            finally:
                os.close(fd)
            return True
        path = self._jpath(self._full(name))
        try:
            out = self._fs.create(path, False)
        except Exception:
            return False
        try:
            out.write(data)
        finally:
            out.close()
        return True

    def delete_file(self, name: str) -> None:
        if not self.remote:
            import os

            try:
                os.remove(self._full(name))
            except FileNotFoundError:
                pass
            return
        path = self._jpath(self._full(name))
        if self._fs.exists(path):
            self._fs.delete(path, False)

    def rename_file(self, src: str, dst: str) -> bool:
        """Move ``src`` to ``dst``; False if ``src`` is gone (someone
        else moved/deleted it first). Local os.rename and HDFS rename
        are both atomic, so two racers can never BOTH win the same
        source file — the primitive the lease break is built on."""
        if not self.remote:
            import os

            try:
                os.rename(self._full(src), self._full(dst))
            except FileNotFoundError:
                return False
            return True
        try:
            return bool(self._fs.rename(self._jpath(self._full(src)),
                                        self._jpath(self._full(dst))))
        except Exception:
            return False

    def restore_no_clobber(self, src: str, dst: str) -> bool:
        """Put ``src`` back at ``dst`` WITHOUT overwriting a newer file;
        ``src`` is removed either way. Local: hard-link (O_EXCL-like,
        fails on EEXIST) then unlink; HDFS rename refuses an existing
        destination. Used to undo an accidental capture of a fresh lock."""
        if not self.remote:
            import os

            ok = True
            try:
                os.link(self._full(src), self._full(dst))
            except (FileExistsError, FileNotFoundError, OSError):
                ok = False
            try:
                os.remove(self._full(src))
            except FileNotFoundError:
                pass
            return ok
        ok = self.rename_file(src, dst)
        if not ok:
            self.delete_file(src)
        return ok

    def has_part_files(self, *parts) -> bool:
        if not self.remote:
            import os

            for _root, _dirs, files in os.walk(self._full(*parts)):
                if any(f.startswith('part-') for f in files):
                    return True
            return False
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return False
        it = self._fs.listFiles(path, True)
        while it.hasNext():
            if it.next().getPath().getName().startswith('part-'):
                return True
        return False

    def list_dir(self, *parts) -> list:
        if not self.remote:
            import os

            path = self._full(*parts)
            return os.listdir(path) if os.path.isdir(path) else []
        path = self._jpath(self._full(*parts))
        if not self._fs.exists(path):
            return []
        return [st.getPath().getName()
                for st in self._fs.listStatus(path)]

    def delete_recursive(self, *parts):
        if not self.remote:
            import shutil

            shutil.rmtree(self._full(*parts), ignore_errors=True)
            return
        path = self._jpath(self._full(*parts))
        if self._fs.exists(path):
            self._fs.delete(path, True)


class _WriterLease:
    """Advisory single-writer lease over an out_dir (see CONCURRENCY.md).

    The committer assumes ONE writer per table directory — the same
    contract as an Iceberg single-table committer without a lock service,
    or Delta on S3 without an external LogStore. This class makes the
    contract *enforced* instead of assumed:

    - acquire(): exclusive-create ``WRITER.lock`` carrying
      ``{token, pid, host, ts}``. A live competing lock → fail fast with
      :class:`ConcurrentWriteError` (no silent lost-update race).
    - Stale-lock takeover: a lock whose pid is dead on this host, or whose
      ``ts`` is older than ``lease_seconds`` (cross-host, clock-based), is
      broken and re-acquired — this is what lets the kill/resume drill
      restart immediately after a SIGKILL. The break is an atomic RENAME
      to a per-acquirer tombstone, so of two concurrent breakers exactly
      one wins the stale file; a breaker that discovers it captured a
      competitor's fresh lock instead restores it no-clobber and backs
      off.
    - check()/renew(): fencing — before EVERY manifest swap the writer
      verifies the lock still carries its own token and refreshes ``ts``.
      A writer whose lease was taken over refuses to publish.

    Residual window (inherent to lease protocols without compare-and-swap
    primitives): between check() and the manifest swap another writer
    could break a lease that expired at that exact moment. With the
    default 10-minute lease and per-commit-group renewal this requires a
    writer stalled >10 min between its fencing check and one os.rename.
    """

    def __init__(self, fs: _OutputFS, lease_seconds: float = 600.0):
        import os
        import socket
        import uuid

        self.fs = fs
        self.lease_seconds = lease_seconds
        self.token = uuid.uuid4().hex
        self.pid = os.getpid()
        self.host = socket.gethostname()

    def _payload(self) -> bytes:
        import json
        import time

        return json.dumps({
            'token': self.token, 'pid': self.pid, 'host': self.host,
            'ts': time.time(),
        }).encode('utf8')

    def _read(self):
        import json

        raw = self.fs.read_bytes(_LOCK)
        if raw is None:
            return None
        try:
            return json.loads(raw.decode('utf8'))
        except ValueError:
            return {}  # corrupt lock: treat as held-but-unparseable

    def _is_stale(self, cur: dict) -> bool:
        import os
        import time

        ts = cur.get('ts')
        if isinstance(ts, (int, float)) \
                and time.time() - ts > self.lease_seconds:
            return True
        pid = cur.get('pid')
        if cur.get('host') == self.host and isinstance(pid, int):
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                return True  # holder died on this host
            except PermissionError:
                pass  # alive, owned by someone else
        return False

    def acquire(self) -> '_WriterLease':
        import json

        for _attempt in range(3):
            if self.fs.create_exclusive(_LOCK, self._payload()):
                return self
            raw = self.fs.read_bytes(_LOCK)
            if raw is None:
                continue  # raced with a release; retry the create
            try:
                cur = json.loads(raw.decode('utf8'))
            except ValueError:
                cur = {}
            if not self._is_stale(cur):
                raise ConcurrentWriteError(
                    'out_dir {} already has a live writer (pid {} on {}); '
                    'one writer per output directory — see CONCURRENCY.md'
                    .format(self.fs.out_dir, cur.get('pid'),
                            cur.get('host')))
            # break the stale lock by RENAMING it to a per-acquirer
            # tombstone: rename is atomic, so of two concurrent breakers
            # only ONE can win the source file — the earlier
            # read-compare-then-DELETE break let a second breaker delete
            # the first breaker's freshly created lock, leaving two
            # writers holding leases until the next fencing point
            # (code-review r5).
            tomb = _LOCK + '.broken.' + self.token + str(_attempt)
            if not self.fs.rename_file(_LOCK, tomb):
                continue  # lost the break race; re-read the winner's lock
            moved = self.fs.read_bytes(tomb)
            if moved == raw:
                # we broke exactly the lock we judged stale
                self.fs.delete_file(tomb)
                continue  # retry the exclusive create
            # the lock changed between our read and our rename — we
            # captured a COMPETITOR'S FRESH lock. Put it back without
            # clobbering anything newer and back off: there is a live
            # writer.
            self.fs.restore_no_clobber(tomb, _LOCK)
            raise ConcurrentWriteError(
                'out_dir {} already has a live writer (lost a lease-break '
                'race); one writer per output directory — see '
                'CONCURRENCY.md'.format(self.fs.out_dir))
        raise ConcurrentWriteError(
            'could not acquire writer lock under ' + self.fs.out_dir)

    def check(self) -> None:
        cur = self._read()
        if not cur or cur.get('token') != self.token:
            raise ConcurrentWriteError(
                'writer lease for {} lost (taken over by pid {} on {}); '
                'refusing to publish'.format(
                    self.fs.out_dir,
                    cur.get('pid') if cur else None,
                    cur.get('host') if cur else None))

    def renew(self) -> None:
        self.check()
        self.fs.write_atomic(_LOCK, self._payload())

    def release(self) -> None:
        cur = self._read()
        if cur and cur.get('token') == self.token:
            self.fs.delete_file(_LOCK)


def _read_manifest(fs: _OutputFS) -> dict:
    import json

    raw = fs.read_bytes(_MANIFEST)
    if raw is None:
        return {'commits': []}
    return json.loads(raw.decode('utf8'))


def _swap_manifest(fs: _OutputFS, manifest: dict) -> None:
    import json

    fs.write_atomic(_MANIFEST, json.dumps(
        manifest, indent=1, sort_keys=True).encode('utf8'))


def _committed_paths(fs: _OutputFS, manifest: dict, table: str) -> list:
    return [
        fs._full(table, c['commit_id'])
        for c in manifest['commits'] if c['tables'].get(table)
    ]


def run_checkpointed(spark, documents: DataFrame, out_dir: str,
                     n_buckets: int = 64, catalog=None,
                     compiler_options=None, commit_groups: int = 8,
                     lease_seconds: float = 600.0) -> dict:
    """Materialize the graph under ``out_dir`` with per-bucket lineage and
    transactional MERGE commits.

    Buckets (xxhash64(url) % n_buckets) are processed in ``commit_groups``
    commit units. Per unit:

    1. parse the unit's documents (one mapInPandas pass),
    2. MERGE: drop rows whose content-hash key (node_id / edge_id) is
       already committed — an anti-join against the committed key column
       only (column-pruned parquet scan, uniform hash keys, the
       get-or-create upsert of the reference ``insert_graph``,
       cache_manager.py:848-903, expressed as a distributed join),
    3. write the survivors to ``<table>/<commit_id>/`` (the commit id is a
       pure function of the bucket group, so a rerun after a kill
       overwrites its own orphans),
    4. atomically swap MANIFEST.json to publish the commit + its
       per-bucket lineage metrics.

    A kill mid-unit loses at most that unit's work; a re-invocation with
    the same ``out_dir`` skips manifest-committed buckets and reprocesses
    the rest. Readers (``read_graph``) need NO read-time dedup: the
    on-disk committed state is duplicate-free by construction.

    Concurrency: one writer per ``out_dir``, ENFORCED by an advisory
    lease (``WRITER.lock``) — a second live writer raises
    :class:`ConcurrentWriteError` at acquire time, and the lease token is
    re-checked (fencing) before every manifest swap. See CONCURRENCY.md.
    """
    docs = documents.withColumn(
        'bucket', F.pmod(F.xxhash64('url'), F.lit(n_buckets)).cast('int'))

    fs = _OutputFS(spark, out_dir)
    lease = _WriterLease(fs, lease_seconds).acquire()
    try:
        return _run_checkpointed_locked(
            spark, docs, fs, lease, n_buckets, catalog, compiler_options,
            commit_groups)
    finally:
        lease.release()


def _run_checkpointed_locked(spark, docs, fs, lease, n_buckets, catalog,
                             compiler_options, commit_groups) -> dict:
    import hashlib

    manifest = _read_manifest(fs)
    done = {b for c in manifest['commits'] for b in c['buckets']}

    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return {'skipped_buckets': len(done), 'processed_buckets': 0}

    # NOTE: the raw documents table is deliberately NOT persisted — at design
    # scale (100 TB of html/text) caching the input is impossible; the bucket
    # column is a cheap xxhash64 recomputed per scan, and each commit group's
    # scan is pruned by the bucket filter.
    group_size = max(1, (len(todo) + commit_groups - 1) // commit_groups)
    n_processed = 0
    for start in range(0, len(todo), group_size):
        group = todo[start:start + group_size]
        cid = 'g{:04d}-{}'.format(group[0], hashlib.md5(
            ','.join(map(str, group)).encode()).hexdigest()[:8])
        group_docs = docs.where(F.col('bucket').isin(group))
        result = build_graph(group_docs.drop('bucket'), catalog=catalog,
                             compiler_options=compiler_options, persist=False)
        parsed = result.parsed.withColumn(
            'bucket', F.pmod(F.xxhash64('url'), F.lit(n_buckets)).cast('int'))
        parsed = parsed.persist()

        nodes = (parsed.select('bucket', F.explode('nodes').alias('n'))
                 .select('bucket', 'n.*').dropDuplicates(['node_id']))
        edges = (parsed.select('bucket', 'url', F.explode('edges').alias('e'))
                 .select('bucket', 'url', 'e.*').dropDuplicates(['edge_id']))
        # warnings have no content key; urls are bucket-disjoint, so groups
        # can never overlap — no dedup needed
        warnings = (parsed.select('bucket', 'url',
                                  F.explode('warnings').alias('w'))
                    .select('bucket', 'url', 'w.*'))

        old_nodes = _committed_paths(fs, manifest, 'nodes')
        if old_nodes:
            nodes = nodes.join(
                spark.read.parquet(*old_nodes).select('node_id'),
                on='node_id', how='left_anti')
        old_edges = _committed_paths(fs, manifest, 'edges')
        if old_edges:
            edges = edges.join(
                spark.read.parquet(*old_edges).select('edge_id'),
                on='edge_id', how='left_anti')

        tables = {}
        for table, df in (('nodes', nodes), ('edges', edges),
                          ('warnings', warnings)):
            path = fs._full(table, cid)
            df.write.mode('overwrite').parquet(path)
            # an all-duplicates unit writes zero part files; record that so
            # readers never scan a schema-less empty dir
            tables[table] = fs.has_part_files(table, cid)

        # per-bucket lineage metrics (≤ |group| small rows to the driver);
        # left join so empty buckets still get a done row
        group_df = spark.createDataFrame([(b,) for b in group], 'bucket int')
        metric_rows = (
            group_df.join(
                parsed.groupBy('bucket').agg(
                    F.count('*').alias('n_docs'),
                    F.sum('n_statements').alias('n_statements'),
                    F.sum(F.size('edges')).alias('n_edges'),
                    F.sum(F.size('warnings')).alias('n_warnings'),
                ),
                on='bucket', how='left')
            .fillna(0, subset=['n_docs', 'n_statements', 'n_edges',
                               'n_warnings'])
            .collect()
        )
        parsed.unpersist()

        # publish: fencing check + atomic swap is the commit point
        lease.renew()
        manifest['commits'].append({
            'commit_id': cid,
            'buckets': group,
            'tables': tables,
            'metrics': {str(r['bucket']): {
                'n_docs': r['n_docs'], 'n_statements': r['n_statements'],
                'n_edges': r['n_edges'], 'n_warnings': r['n_warnings'],
            } for r in metric_rows},
        })
        _swap_manifest(fs, manifest)
        n_processed += len(group)

    return {'skipped_buckets': len(done), 'processed_buckets': n_processed}


def read_lineage(spark, out_dir: str) -> DataFrame:
    """Per-bucket lineage metrics reconstructed from the manifest."""
    manifest = _read_manifest(_OutputFS(spark, out_dir))
    rows = []
    for c in manifest['commits']:
        for bucket, m in c['metrics'].items():
            rows.append((int(bucket), m['n_docs'], m['n_statements'],
                         m['n_edges'], m['n_warnings'], 'done'))
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def compact_output(spark, out_dir: str, lease_seconds: float = 600.0) -> dict:
    """Compact a manifest-committed output: rewrite every table as ONE
    commit clustered by bucket, swap the manifest to reference only it,
    then delete the superseded data dirs.

    The Iceberg analogy is rewrite-data-files + snapshot expiration: the
    committed state is already duplicate-free (MERGE happens at write
    time), so compaction only bounds small-file growth and drops orphan
    dirs from killed attempts. Crash-safe ordering: new files → atomic
    manifest swap → cleanup; a crash leaves orphans, never partial reads.

    Compaction is a writer: it takes the same single-writer lease as
    :func:`run_checkpointed` (see CONCURRENCY.md).
    """
    fs = _OutputFS(spark, out_dir)
    lease = _WriterLease(fs, lease_seconds).acquire()
    try:
        return _compact_output_locked(spark, fs, lease)
    finally:
        lease.release()


def _compact_output_locked(spark, fs, lease) -> dict:
    import hashlib

    manifest = _read_manifest(fs)
    old_cids = [c['commit_id'] for c in manifest['commits']]
    if not old_cids:
        return {}
    new_cid = 'compact-' + hashlib.md5(
        ','.join(old_cids).encode()).hexdigest()[:8]

    def n_part_files(table, cid):
        return sum(1 for _ in _iter_part_files(fs, table, cid))

    def _iter_part_files(fs_, table, cid):
        # only used for stats; local walk or remote listFiles
        if not fs_.remote:
            import os

            for _r, _d, files in os.walk(fs_._full(table, cid)):
                for f in files:
                    if f.startswith('part-'):
                        yield f
        else:
            path = fs_._jpath(fs_._full(table, cid))
            if fs_._fs.exists(path):
                it = fs_._fs.listFiles(path, True)
                while it.hasNext():
                    name = it.next().getPath().getName()
                    if name.startswith('part-'):
                        yield name

    stats = {}
    tables = {}
    for table in _TABLES:
        paths = _committed_paths(fs, manifest, table)
        out_path = fs._full(table, new_cid)
        if paths:
            df = spark.read.parquet(*paths)
            files_before = sum(
                n_part_files(table, c['commit_id'])
                for c in manifest['commits'] if c['tables'].get(table))
            df.repartition(F.col('bucket')).sortWithinPartitions('bucket') \
                .write.mode('overwrite').parquet(out_path)
            files_after = n_part_files(table, new_cid)
            stats[table] = {'files_before': files_before,
                            'files_after': files_after}
        tables[table] = bool(paths) and fs.has_part_files(table, new_cid)

    merged_metrics = {}
    all_buckets = []
    for c in manifest['commits']:
        all_buckets.extend(c['buckets'])
        merged_metrics.update(c['metrics'])
    lease.renew()
    _swap_manifest(fs, {'commits': [{
        'commit_id': new_cid,
        'buckets': sorted(set(all_buckets)),
        'tables': tables,
        'metrics': merged_metrics,
    }]})

    # expire superseded + orphan dirs (anything but the new commit)
    for table in _TABLES:
        for d in fs.list_dir(table):
            if d != new_cid:
                fs.delete_recursive(table, d)
    return stats


def read_graph(spark, out_dir: str) -> dict:
    """Read back a checkpointed run. No read-time dedup is needed: the
    manifest references only MERGE-committed, duplicate-free data."""
    from pyspark.sql.types import IntegerType, StringType, StructField, \
        StructType

    fs = _OutputFS(spark, out_dir)
    manifest = _read_manifest(fs)
    if not manifest['commits']:
        raise ValueError('no committed data under {}'.format(out_dir))

    def empty(name):
        elem = PARSED_SCHEMA[name].dataType.elementType
        fields = [StructField('bucket', IntegerType(), True)]
        if name != 'nodes':
            fields.append(StructField('url', StringType(), True))
        return spark.createDataFrame(
            [], StructType(fields + list(elem.fields)))

    def table(name):
        paths = _committed_paths(fs, manifest, name)
        if not paths:
            return empty(name)  # e.g. a warning-free corpus
        return spark.read.parquet(*paths)

    nodes = table('nodes')
    edges = table('edges')
    warnings = table('warnings')
    triples = (
        edges.select(
            F.col('triple_subject').alias('subject'),
            F.col('triple_predicate').alias('predicate'),
            F.col('triple_object').alias('object'))
        .where(F.col('subject').isNotNull())
        .distinct()
    )
    return {'nodes': nodes, 'edges': edges, 'warnings': warnings,
            'triples': triples}


def triples_delta(triples_a: DataFrame, triples_b: DataFrame) -> DataFrame:
    """KG crawl-delta: classify each distinct (subject, predicate, object)
    as ``kept`` (in both crawls), ``added`` (new in B) or ``removed``
    (gone from A) — the knowledge-graph diff between two crawl batches
    that drives incremental downstream refresh (only added/removed
    triples re-enter entity linking, serving indexes, etc.).

    One full-outer equi-join on the triple key; both sides are the
    already-deduplicated north-star outputs, so the join carries three
    short strings per row.
    """
    a = triples_a.select('subject', 'predicate', 'object') \
        .distinct().withColumn('_in_a', F.lit(True))
    b = triples_b.select('subject', 'predicate', 'object') \
        .distinct().withColumn('_in_b', F.lit(True))
    return (
        a.join(b, on=['subject', 'predicate', 'object'], how='full_outer')
        .select(
            'subject', 'predicate', 'object',
            F.when(F.col('_in_a').isNotNull() & F.col('_in_b').isNotNull(),
                   'kept')
            .when(F.col('_in_b').isNotNull(), 'added')
            .otherwise('removed').alias('status'))
    )
