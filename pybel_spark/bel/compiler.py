"""Per-document BEL compiler: lines in → node/edge/triple/warning rows out.

Replicates the reference compile loop (reference: src/pybel/io/line_utils.py:
36-274 orchestration, parse_bel.py:726-860 graph insertion, struct/graph.py:
345-577 edge/node insertion semantics) as a pure function over one document's
lines. All state is document-local, which is exactly why the Spark pipeline
parallelizes perfectly by document row.
"""
import hashlib
import json
import re

from . import model
from .constants import (
    ACTIVITY, BINDS, COMPLEX,
    DEGRADATION, DIRECTLY_INCREASES, DOCUMENT_KEYS, IS_A, PART_OF,
    HAS_PRODUCT, HAS_REACTANT, HAS_VARIANT, REACTION, REQUIRED_METADATA,
    TRANSLOCATION, TWO_WAY_RELATIONS,
)
from .control import ControlState, is_control_line
from .exc import (
    BELParserWarning, BELSyntaxError, MalformedMetadataException,
    MissingAnnotationWarning, MissingCitationException,
    MissingMetadataException, MissingSupportWarning, RedefinedAnnotationError,
    RedefinedNamespaceError, VersionFormatWarning,
)
from .grammar import BELTermParser, Scanner
from .triples import edge_to_triple

_METADATA_RE = re.compile(r'(SET\s+DOCUMENT|DEFINE\s+NAMESPACE|DEFINE\s+ANNOTATION)')
_SET_DOC_RE = re.compile(
    r'SET\s+DOCUMENT\s+(\w+)\s*=\s*(?:"((?:[^"\\]|\\.)*)"|(\S+))\s*$')
_DEFINE_RE = re.compile(
    r'DEFINE\s+(NAMESPACE|ANNOTATION)\s+(\w+)\s+AS\s+(URL|PATTERN|LIST)\s+(.*)$')


def sanitize_lines(lines):
    """Strip blank/comment lines, merge backslash continuations, drop //
    trailing comments. Yields (1-based first-physical-line-number, line)."""
    out = []
    it = iter(enumerate(lines, start=1))
    for number, line in it:
        line = line.strip()
        if not line or line.startswith('#'):
            continue
        while line.endswith('\\'):
            line = line[:-1].strip()
            try:
                _, nxt = next(it)
            except StopIteration:
                break
            line = line + ' ' + nxt.strip()
        idx = _trailing_comment_index(line)
        if idx is not None:
            line = line[:idx].strip()
        if line:
            out.append((number, line))
    return out


import functools


@functools.lru_cache(maxsize=8192)  # header/boilerplate lines repeat per page
def _trailing_comment_index(line):
    if '//' not in line:  # fast path: the vast majority of lines
        return None
    in_quote = False
    for i in range(len(line) - 1):
        c = line[i]
        if c == '"':
            in_quote = not in_quote
        elif not in_quote and c == '/' and line[i + 1] == '/':
            return i
    return None


def split_sections(sanitized):
    """Split sanitized (number, line) pairs into (documents, definitions,
    statements) by content, like the BEL script section convention."""
    documents, definitions, statements = [], [], []
    for number, line in sanitized:
        m = _METADATA_RE.match(line)
        if m is None:
            statements.append((number, line))
        elif line.upper().startswith('SET DOCUMENT'):
            documents.append((number, line))
        else:
            definitions.append((number, line))
    return documents, definitions, statements


def edge_key(source_bel, target_bel, citation_db, citation_id, evidence,
             relation, subject_modifier, object_modifier):
    """Content-addressed edge id.

    Same keying components as the reference (utils.py:143-175: source bel,
    target bel, citation, evidence, canonicalized relation+modifiers) but
    hashed over canonical JSON instead of a Python pickle, which is not
    reproducible across processes/languages.
    """
    citation_str = None
    if citation_db is not None:
        citation_str = '{}:{}'.format(citation_db, citation_id)
    payload = json.dumps(
        [source_bel, target_bel, citation_str, evidence,
         _canonicalize_modifier(subject_modifier),
         _canonicalize_modifier(object_modifier),
         relation],
        sort_keys=True, separators=(',', ':'),
    )
    return hashlib.md5(payload.encode('utf8')).hexdigest()  # noqa: S324


def _canonicalize_modifier(modifier):
    """Canonical tuple of an edge subject/object modifier (utils.py:222-291)."""
    if not modifier:
        return None
    kind = modifier.get('modifier')
    location = modifier.get('location')
    effect = modifier.get('effect')
    if kind is None and location is None:
        return None
    result = []
    if kind == ACTIVITY:
        if effect:
            result.append([ACTIVITY, effect.get('namespace'),
                           effect.get('identifier'), effect.get('name')])
        else:
            result.append([ACTIVITY])
    elif kind == DEGRADATION:
        result.append([DEGRADATION])
    elif kind == TRANSLOCATION:
        if effect:
            fl, tl = effect['from_loc'], effect['to_loc']
            result.append([
                TRANSLOCATION,
                fl.get('namespace'), fl.get('identifier'), fl.get('name'),
                tl.get('namespace'), tl.get('identifier'), tl.get('name'),
            ])
        else:
            result.append([TRANSLOCATION])
    if location:
        result.append(['location', location.get('namespace'),
                       location.get('identifier'), location.get('name')])
    return result or None


def _term_modifier(term):
    """Edge subject/object modifier from a parsed term (modifier_po_to_dict)."""
    if term.get('modifier') is not None:
        return term['modifier']
    if term.get('location') is not None:
        return {'location': term['location']}
    return None


class DocumentCompiler:
    """Compile one BEL document's sanitized lines into output rows.

    :param resources: a ResourceCatalog-like object resolving DEFINE URLs:
        must provide ``namespace(url) -> {name: encoding}`` and
        ``annotation(url) -> set[str]``. Pass None to fail all URL defines.
    """

    def __init__(
        self,
        resources=None,
        citation_clearing=True,
        allow_naked_names=False,
        disallow_nested=False,
        disallow_unqualified_translocations=False,
        required_annotations=None,
        skip_validation=False,
    ):
        self.resources = resources
        self.citation_clearing = citation_clearing
        self.allow_naked_names = allow_naked_names
        self.disallow_nested = disallow_nested
        self.disallow_unqualified_translocations = disallow_unqualified_translocations
        self.required_annotations = required_annotations
        self.skip_validation = skip_validation
        # web corpora repeat boilerplate headers across millions of pages —
        # memoize parsed (metadata, definitions, term parser) per distinct
        # header so each executor pays the definition cost once per header
        self._header_cache = {}
        # node rows (md5 + flat columns + canonical JSON) are pure functions
        # of the canonical BEL string — share them across documents
        self._node_row_cache = {}

    def compile(self, lines):
        """Compile raw lines → dict of row lists (nodes, edges, warnings,
        metadata)."""
        documents, definitions, statements = \
            split_sections(sanitize_lines(lines))
        state = self._header_state(documents, definitions)
        state.parse_statements(statements)
        return state.result()

    def statement_contexts(self, lines):
        """A page's header text (its SET DOCUMENT and DEFINE lines joined
        by newlines) and its ``(statement, qualified)`` pairs, without
        parsing any statement. ``qualified``: the control state
        :meth:`compile` reaches at that line passes the guard a qualified
        relation needs to emit an edge."""
        documents, definitions, statements = \
            split_sections(sanitize_lines(lines))
        state = self._header_state(documents, definitions)
        pairs = []
        for number, line in statements:
            if not is_control_line(line):
                pairs.append(
                    (line, state._context_warning(number, line) is None))
                continue
            try:
                state._parse_statement_line(number, line)
            except Exception:
                # compile() records this as a warning: the line changes
                # nothing past the point where it raised
                pass
        header = '\n'.join(line for _, line in documents + definitions)
        return header, pairs

    def _header_state(self, documents, definitions):
        """A fresh per-document state under this header. Metadata,
        definitions, header warnings and the term parser are built once
        per distinct header and shared; the control state is always new."""
        key = (tuple(line for _, line in documents),
               tuple(line for _, line in definitions))
        cached = self._header_cache.get(key)
        if cached is None:
            state = _CompileState(self)
            state.parse_document_section(documents)
            state.parse_definitions(definitions)
            state.make_term_parser()
            cached = (state.metadata, state.namespaces,
                      state.namespace_patterns, state.annotation_terms,
                      state.annotation_patterns, state.annotation_locals,
                      state.warnings, state.term_parser)
            if len(self._header_cache) < 256:  # bound executor memory
                self._header_cache[key] = cached

        state = _CompileState(self)
        (state.metadata, state.namespaces, state.namespace_patterns,
         state.annotation_terms, state.annotation_patterns,
         state.annotation_locals, header_warnings, state.term_parser) = cached
        state.warnings = list(header_warnings)
        state.make_control()
        return state


class _CompileState:
    def __init__(self, config: DocumentCompiler):
        self.config = config
        self.metadata = {}
        self.namespaces = {}           # keyword -> {name: encoding}
        self.namespace_patterns = {}   # keyword -> compiled regex
        self.annotation_terms = {}     # keyword -> set of values
        self.annotation_patterns = {}
        self.annotation_locals = {}
        self.warnings = []
        self.nodes = {}                # bel -> node row
        self.edges = {}                # edge_key -> edge row
        self.term_parser = None
        self.control = None
        self._node_cache = {}          # bel -> node dict

    # ---------------- header ----------------

    def parse_document_section(self, documents):
        for number, line in documents:
            m = _SET_DOC_RE.match(line)
            if m is None:
                exc = MalformedMetadataException(number, line, 0)
                self._warn(exc)
                continue
            key = m.group(1)
            value = m.group(2) if m.group(2) is not None else m.group(3)
            norm = DOCUMENT_KEYS.get(key)
            if norm is None:
                self._warn(MalformedMetadataException(number, line, 0))
                continue
            if norm in self.metadata:
                continue  # first definition wins (parse_metadata.py:158-160)
            self.metadata[norm] = value
            if norm == 'version' and not _valid_version(value):
                self._warn(VersionFormatWarning(number, line, 0, value))
        for required in REQUIRED_METADATA:
            if required not in self.metadata:
                exc = MissingMetadataException(None, None, 0, required)
                self.warnings.insert(0, self._warning_row(exc, {}))

    def parse_definitions(self, definitions):
        for number, line in definitions:
            try:
                self._parse_define(number, line)
            except BELParserWarning as exc:
                self._warn(exc)
            except Exception:
                self._warn(MalformedMetadataException(number, line, 0))

    def _parse_define(self, number, line):
        m = _DEFINE_RE.match(line)
        if m is None:
            raise MalformedMetadataException(number, line, 0)
        kind, keyword, how, rest = m.groups()
        rest = rest.strip()
        if kind == 'NAMESPACE':
            if keyword in self.namespaces or keyword in self.namespace_patterns:
                raise RedefinedNamespaceError(number, line, 0, keyword)
            if how == 'URL':
                url = _unquote(rest)
                self.namespaces[keyword] = self.config.resources.namespace(url)
            elif how == 'PATTERN':
                self.namespace_patterns[keyword] = re.compile(_unquote(rest))
            else:
                raise MalformedMetadataException(number, line, 0)
        else:
            if keyword in self.annotation_terms or keyword in self.annotation_patterns \
                    or keyword in self.annotation_locals:
                raise RedefinedAnnotationError(number, line, 0, keyword)
            if how == 'URL':
                url = _unquote(rest)
                self.annotation_terms[keyword] = self.config.resources.annotation(url)
            elif how == 'PATTERN':
                self.annotation_patterns[keyword] = re.compile(_unquote(rest))
            elif how == 'LIST':
                values = re.findall(r'"((?:[^"\\]|\\.)*)"', rest)
                self.annotation_locals[keyword] = set(values)

    def make_term_parser(self):
        # the term parser is stateless after construction → cacheable per
        # header; ControlState is per-document (SET/UNSET state) → always fresh
        self.term_parser = BELTermParser(
            namespaces=self.namespaces,
            namespace_patterns=self.namespace_patterns,
            allow_naked_names=self.config.allow_naked_names,
            skip_validation=self.config.skip_validation,
            disallow_nested=self.config.disallow_nested,
            disallow_unqualified_translocations=self.config.disallow_unqualified_translocations,
        )

    def make_control(self):
        self.control = ControlState(
            annotation_to_term=self.annotation_terms,
            annotation_to_pattern=self.annotation_patterns,
            annotation_to_local=self.annotation_locals,
            citation_clearing=self.config.citation_clearing,
            required_annotations=self.config.required_annotations,
        )

    # ---------------- statements ----------------

    def parse_statements(self, statements):
        for number, line in statements:
            try:
                self._parse_statement_line(number, line)
            except BELParserWarning as exc:
                self._warn(exc)
            except Exception:
                self._warn(BELSyntaxError(number, line, 0))

    def _parse_statement_line(self, number, line):
        if is_control_line(line):
            s = Scanner(line, number)
            keyword = s.read_word()
            if keyword == 'SET':
                self.control.handle_set(s, line, number)
            else:
                self.control.handle_unset(s, line, number)
            return

        # per-header statement-parse memo: web corpora repeat statements
        # (boilerplate/syndication) massively, and a parse outcome — the
        # result dict (never mutated downstream; all node construction is
        # copy-on-build in bel.model) or the raised warning — is a pure
        # function of (definition header, line). The cache lives on the
        # term_parser, which the header cache already shares across
        # documents on an executor. Warning replays re-stamp the current
        # occurrence's line number.
        cache = getattr(self.term_parser, '_stmt_cache', None)
        if cache is None:
            cache = self.term_parser._stmt_cache = {}
        entry = cache.get(line)
        if entry is None:
            try:
                entry = ('ok', self.term_parser.parse_statement(line, number))
            except BELParserWarning as exc:
                entry = ('err', exc)
            if len(cache) < 65536:  # bound executor memory
                cache[line] = entry
        if entry[0] == 'err':
            exc = entry[1]
            exc.line_number = number
            raise exc
        stmt = entry[1]
        kind = stmt['type']

        if kind == 'term':
            self.ensure_node(stmt['subject']['node'])
            return

        if kind == 'list_relation':
            parent = self.ensure_node(stmt['subject']['node'])
            relation = IS_A if stmt['relation'] == 'hasMembers' else PART_OF
            for child in stmt['children']:
                child_bel = self.ensure_node(child['node'])
                self.add_unqualified_edge(child_bel, parent, relation, number)
            return

        if kind == 'nested':
            inner = stmt['object']
            self._handle_qualified(number, line, stmt['subject'],
                                   stmt['relation'], inner['subject'])
            self._handle_qualified(number, line, inner['subject'],
                                   inner['relation'], inner['object'])
            return

        relation = stmt['relation']
        subject, obj = stmt['subject'], stmt['object']

        if relation in ('hasMember', 'hasComponent'):
            # reversed unqualified insertion (parse_bel.py:841-847)
            u = self.ensure_node(subject['node'])
            v = self.ensure_node(obj['node'])
            self.add_unqualified_edge(v, u, relation, number)
            return

        if relation in (HAS_VARIANT, HAS_REACTANT, HAS_PRODUCT):
            u = self.ensure_node(subject['node'])
            v = self.ensure_node(obj['node'])
            self.add_unqualified_edge(u, v, relation, number)
            return

        self._handle_qualified(number, line, subject, relation, obj)

    def _context_warning(self, number, line):
        """The warning a qualified relation on this line raises under the
        current control state, or None when citation, evidence and every
        required annotation are set (parse_bel.py:770-831)."""
        if not self.control.citation_is_set:
            return MissingCitationException(number, line, 0)
        if not self.control.evidence:
            return MissingSupportWarning(number, line, 0)
        missing = self.control.get_missing_required_annotations()
        if missing:
            return MissingAnnotationWarning(number, line, 0, missing)
        return None

    def _handle_qualified(self, number, line, subject, relation, obj):
        """Citation/evidence guards + qualified edge insertion
        (parse_bel.py:770-831)."""
        exc = self._context_warning(number, line)
        if exc is not None:
            raise exc

        u_bel = self.ensure_node(subject['node'])
        v_bel = self.ensure_node(obj['node'])
        u_mod = _term_modifier(subject)
        v_mod = _term_modifier(obj)
        annotations = self.control.prepared_annotations()

        if relation in TWO_WAY_RELATIONS:
            self._add_qualified(number, v_bel, obj['node'], v_mod,
                                relation, u_bel, subject['node'], u_mod, annotations)
        self._add_qualified(number, u_bel, subject['node'], u_mod,
                            relation, v_bel, obj['node'], v_mod, annotations)

    def _add_qualified(self, number, u_bel, u_node, u_mod, relation,
                       v_bel, v_node, v_mod, annotations):
        if relation == BINDS:
            # u binds v → u directlyIncreases complex(u, v) (graph.py:490-510)
            complex_node = model.make_list(COMPLEX, [u_node, v_node])
            v_bel = self.ensure_node(complex_node)
            v_node = complex_node
            relation = DIRECTLY_INCREASES

        self.add_edge_row(
            source=u_bel, target=v_bel, relation=relation,
            citation_db=self.control.citation_db,
            citation_id=self.control.citation_db_id,
            evidence=self.control.evidence,
            annotations=annotations,
            subject_modifier=u_mod, object_modifier=v_mod,
            line=number, source_node=u_node, target_node=v_node,
        )

    # ---------------- insertion primitives ----------------

    def ensure_node(self, node):
        """Register the node and its derived structural edges
        (graph.py:557-577). Returns the canonical BEL string."""
        bel = model.node_as_bel(node)
        if bel in self.nodes:
            return bel
        row_cache = self.config._node_row_cache
        row = row_cache.get(bel)
        if row is None:
            variants = node.get('variants') or []
            concept = node.get('concept') or {}
            row = {
                'node_bel': bel,
                'node_id': model.node_md5(node),
                'function': node['function'],
                'namespace': concept.get('namespace'),
                'name': concept.get('name'),
                'identifier': concept.get('identifier'),
                'variant_kinds': sorted({v['kind'] for v in variants}) or None,
                'n_members': len(node['members'])
                if node.get('members') is not None else None,
                'n_reactants': len(node['reactants'])
                if node.get('reactants') else None,
                'n_products': len(node['products'])
                if node.get('products') else None,
                'has_fusion': bool(node.get('fusion')),
                'node_json': json.dumps(node, sort_keys=True,
                                        separators=(',', ':')),
            }
            if len(row_cache) < 65536:  # bound executor memory
                row_cache[bel] = row
        self.nodes[bel] = row
        self._node_cache_put(bel, node)

        if node.get('variants'):
            parent = model.get_parent(node)
            parent_bel = self.ensure_node(parent)
            self.add_unqualified_edge(parent_bel, bel, HAS_VARIANT, None)
        elif node.get('members') is not None:
            for member in node['members']:
                member_bel = self.ensure_node(member)
                self.add_unqualified_edge(member_bel, bel, PART_OF, None)
        elif node['function'] == REACTION:
            for reactant in node['reactants']:
                r_bel = self.ensure_node(reactant)
                self.add_unqualified_edge(bel, r_bel, HAS_REACTANT, None)
            for product in node['products']:
                p_bel = self.ensure_node(product)
                self.add_unqualified_edge(bel, p_bel, HAS_PRODUCT, None)
        return bel

    def _node_cache_put(self, bel, node):
        self._node_cache[bel] = node

    def _node_of(self, bel):
        return self._node_cache[bel]

    def add_unqualified_edge(self, u_bel, v_bel, relation, line):
        self.add_edge_row(
            source=u_bel, target=v_bel, relation=relation,
            citation_db=None, citation_id=None, evidence=None,
            annotations=None, subject_modifier=None, object_modifier=None,
            line=line,
            source_node=self._node_of(u_bel), target_node=self._node_of(v_bel),
        )

    def add_edge_row(self, *, source, target, relation, citation_db,
                     citation_id, evidence, annotations, subject_modifier,
                     object_modifier, line, source_node, target_node):
        key = edge_key(source, target, citation_db, citation_id, evidence,
                       relation, subject_modifier, object_modifier)
        if key in self.edges:
            return
        triple = edge_to_triple(source_node, target_node, relation, object_modifier)
        self.edges[key] = {
            'edge_id': key,
            'source_bel': source,
            'source_id': self.nodes[source]['node_id'],
            'target_bel': target,
            'target_id': self.nodes[target]['node_id'],
            'relation': relation,
            'citation_db': citation_db,
            'citation_id': citation_id,
            'evidence': evidence,
            'annotations': annotations or None,
            'subject_modifier': _json_or_none(subject_modifier),
            'object_modifier': _json_or_none(object_modifier),
            'subject_modifier_kind': (subject_modifier or {}).get('modifier'),
            'object_modifier_kind': (object_modifier or {}).get('modifier'),
            'line': line,
            'triple_subject': triple[0] if triple else None,
            'triple_predicate': triple[1] if triple else None,
            'triple_object': triple[2] if triple else None,
            # populated post-hoc by citations.enrich_pubmed_citations —
            # the reference likewise only gets authors from enrichment
            # (manager/citation_utils.py:137-244), never from parsing
            'citation_authors': None,
        }

    # ---------------- output ----------------

    def _warning_row(self, exc, context):
        extras = getattr(exc, 'extras', None)
        return {
            'line_number': exc.line_number,
            'line': exc.line,
            'position': getattr(exc, 'position', 0),
            'error_class': exc.__class__.__name__,
            'detail': json.dumps(list(extras), default=str) if extras else None,
            'context': json.dumps(context, sort_keys=True, default=sorted)
            if context else None,
        }

    def _warn(self, exc):
        context = {}
        if self.control is not None:
            context = {
                'citation_db': self.control.citation_db,
                'citation_id': self.control.citation_db_id,
                'evidence': self.control.evidence,
            }
        self.warnings.append(self._warning_row(exc, context))

    def result(self):
        return {
            'metadata': self.metadata,
            'nodes': list(self.nodes.values()),
            'edges': list(self.edges.values()),
            'warnings': self.warnings,
        }


_SEMVER_RE = re.compile(r'(?P<major>\d+)\.(?P<minor>\d+)\.(?P<patch>\d+)'
                        r'(?:-[0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*)?'
                        r'(?:\+[0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*)?')
_DATE_VERSION_RE = re.compile(r'\d{8}$')


def _valid_version(value):
    """Semantic version or YYYYMMDD date version (parse_metadata.py:37-42,
    utils.py valid_date_version)."""
    return bool(_SEMVER_RE.match(value)) or bool(_DATE_VERSION_RE.match(value))


def _unquote(s):
    s = s.strip()
    if s.startswith('"') and s.endswith('"') and len(s) >= 2:
        return s[1:-1]
    return s


def _json_or_none(obj):
    if obj is None:
        return None
    return json.dumps(obj, sort_keys=True, separators=(',', ':'))
