"""JSON-LD source: the third guess_format front door the reference
accepts via rdflib (src/utils.py:58-63). From-scratch subset parser on
stdlib ``json`` — no rdflib — covering the shapes data publishers
actually emit (schema.org-style embedded metadata, ontology dumps):

- ``@context``: term -> IRI strings, term -> {"@id", "@type"} definitions
  (``"@type": "@id"`` marks IRI-valued terms, any other value is a
  datatype coercion), prefix definitions (``"ex": "http://ex.org/"``),
  ``@base`` and ``@vocab``. Array contexts merge left-to-right. Remote
  (string) contexts are NOT fetched — a 100 TB ingest must not do network
  I/O per document; they surface in the error scan.
- Node objects: ``@id`` (absolute / relative-to-@base / ``_:label``),
  ``@type`` (one or many), nested node objects (anonymous -> synthesized
  bnodes), arrays of values, ``{"@value", "@type", "@language"}``
  literals, ``{"@list": [...]}`` collections (emitted as rdf:first/rest/
  nil spines — same shape as the Turtle/RDF-XML readers), ``@graph``
  wrappers, top-level arrays.
- JSON scalars map per JSON-LD: string -> plain literal ('xsd:string'
  sentinel, read_ntriples parity), true/false -> xsd:boolean, integral
  number -> xsd:integer, fractional -> xsd:double. Lexical forms keep
  Python's canonical rendering (documented simplification vs JSON-LD's
  exponent-form canonical doubles).

Blank-node labels are document-scoped: explicit ``_:label`` terms are
remapped into the per-file namespace and anonymous nodes get counter
labels inside it — identical policy to the Turtle document reader.

Two modes, mirroring the Turtle split:
- :func:`read_jsonld` — one whole file per task (``wholetext``): a
  ``.jsonld`` file is one JSON value, not line-splittable.
- :func:`read_jsonld_lines` — NDJSON (one node object per line), the
  line-splittable scale path; an optional static ``context`` dict applies
  to every line (crawler output typically shares one context).

Each mode parses through one function (:func:`_jsonld_doc`,
:func:`_jsonld_line`) that both its reader and :func:`scan_jsonld_errors`
call, inside rdf.py's shared parse stage.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from .rdf import RDF_NS, XSD_NS, _bnode_seed, _PLAIN, _resolve_against, _SCHEME_RE
from .rdf import _ERROR_SCHEMA, _parse_stage, _text_files

_KEYWORDS = {"@id", "@type", "@context", "@graph", "@value", "@language",
             "@list", "@base", "@vocab", "@container"}


class _JsonLdParser:
    def __init__(self, bnode_ns: str = "b", label_ns: str | None = None):
        #: namespace for SYNTHESIZED anonymous bnodes (per line in NDJSON
        #: mode — anonymous nodes on different lines must never collide)
        self.bnode_ns = bnode_ns
        #: namespace for EXPLICIT ``_:label`` remapping (per FILE: labels
        #: are document-scoped, and in NDJSON mode subject/reference lines
        #: legitimately share labels across lines — write_jsonld round-trip)
        self.label_ns = label_ns or bnode_ns
        self.n_bnodes = 0
        self.rows: list[tuple] = []
        self.errors: list[str] = []

    # ---- context
    def _merge_context(self, ctx: dict, raw) -> dict:
        out = dict(ctx)
        parts = raw if isinstance(raw, list) else [raw]
        for part in parts:
            if isinstance(part, str):
                self.errors.append(
                    f"remote @context not fetched (no network I/O on ingest): {part!r}"
                )
                continue
            if isinstance(part, dict):
                out.update(part)
        return out

    def _expand(self, term: str, ctx: dict, use_vocab: bool, _depth: int = 0) -> str | None:
        """Term/IRI expansion. Returns None for terms that do not expand
        (JSON-LD drops them); keywords are handled by the caller. String
        term definitions recurse (``"name": "ex:name"`` is a very common
        context shape — review r4: returning it verbatim emitted compact
        predicates); a depth guard breaks definition cycles."""
        if term.startswith("@"):
            return None
        if _depth > 10:
            self.errors.append(f"@context definition cycle at {term!r}; dropped")
            return None
        d = ctx.get(term)
        if isinstance(d, str) and d != term:
            return self._expand(d, ctx, use_vocab, _depth + 1)
        if isinstance(d, dict) and "@id" in d:
            return self._expand(d["@id"], ctx, use_vocab, _depth + 1)
        pfx, sep, local = term.partition(":")
        if sep:
            if term.startswith("_:"):
                return f"_:{self.label_ns}_{term[2:]}"  # document-scoped label
            p = ctx.get(pfx)
            if isinstance(p, str):
                return p + local
            if isinstance(p, dict) and isinstance(p.get("@id"), str):
                return p["@id"] + local
            if _SCHEME_RE.match(term):
                return term  # absolute IRI
        base = ctx.get("@base")
        if not use_vocab:
            return _resolve_against(base, term) if base else term
        vocab = ctx.get("@vocab")
        if isinstance(vocab, str):
            return vocab + term
        self.errors.append(f"term {term!r} has no definition and no @vocab; dropped")
        return None

    def _new_bnode(self) -> str:
        self.n_bnodes += 1
        return f"_:{self.bnode_ns}a{self.n_bnodes}"

    # ---- nodes
    def _subject(self, obj: dict, ctx: dict) -> str:
        nid = obj.get("@id")
        if isinstance(nid, str):
            expanded = self._expand(nid, ctx, use_vocab=False)
            if expanded is not None:
                return expanded
        return self._new_bnode()

    def node(self, obj, ctx: dict) -> str | None:
        """Parse one node object -> subject id (emitting its triples)."""
        if not isinstance(obj, dict):
            self.errors.append(f"expected node object, got {type(obj).__name__}")
            return None
        if "@context" in obj:
            ctx = self._merge_context(ctx, obj["@context"])
        if "@graph" in obj:
            for n in _as_list(obj["@graph"]):
                self.node(n, ctx)
            # a node with both @graph and properties is out of subset
            keys = set(obj) - {"@context", "@graph", "@id"}
            if keys:
                self.errors.append(f"@graph node with extra keys {sorted(keys)}; keys dropped")
            return None
        subj = self._subject(obj, ctx)
        for t in _as_list(obj.get("@type", [])):
            if isinstance(t, str):
                iri = self._expand(t, ctx, use_vocab=True)
                if iri:
                    self.emit(subj, RDF_NS + "type", iri)
        for key, raw in obj.items():
            if key in _KEYWORDS:
                continue
            pred = self._expand(key, ctx, use_vocab=True)
            if pred is None:
                continue
            tdef = ctx.get(key)
            coerce = tdef.get("@type") if isinstance(tdef, dict) else None
            for v in _as_list(raw):
                self._value(subj, pred, v, ctx, coerce)
        return subj

    def _literal(self, subj, pred, v, ctx, coerce):
        # @context datatype coercion applies to NATIVE scalars too (review
        # r4: {"age": 5} under {"age": {"@type": "xsd:decimal"}} must match
        # the explicit {"@value": 5, "@type": ...} spelling)
        # keyword type mappings (@id/@vocab/@none/@json) are NOT datatype
        # coercions — stamping the keyword as a datatype would emit
        # garbage triples (review r4)
        if (
            isinstance(coerce, str)
            and not coerce.startswith("@")
            and isinstance(v, (bool, int, float))
        ):
            dt = self._expand(coerce, ctx, use_vocab=True) or coerce
            self.emit(subj, pred, _lex(v), dt)
            return
        if isinstance(v, bool):
            self.emit(subj, pred, "true" if v else "false", XSD_NS + "boolean")
        elif isinstance(v, int):
            self.emit(subj, pred, str(v), XSD_NS + "integer")
        elif isinstance(v, float):
            self.emit(subj, pred, repr(v), XSD_NS + "double")
        elif isinstance(v, str):
            if coerce == "@id":
                obj_iri = self._expand(v, ctx, use_vocab=False)
                if obj_iri is not None:
                    self.emit(subj, pred, obj_iri)
            elif coerce == "@vocab":
                # {"@type": "@vocab"}: string values are vocab-expanded
                # IRIs, not literals (ADVICE r4 — emitting xsd:string here
                # silently dropped the coercion semantics); terms with no
                # definition and no @vocab land in the error scan
                obj_iri = self._expand(v, ctx, use_vocab=True)
                if obj_iri is not None:
                    self.emit(subj, pred, obj_iri)
            elif isinstance(coerce, str) and not coerce.startswith("@"):
                dt = self._expand(coerce, ctx, use_vocab=True) or coerce
                self.emit(subj, pred, v, dt)
            else:  # no coercion, or a non-datatype keyword mapping
                self.emit(subj, pred, v, _PLAIN)
        else:
            self.errors.append(f"unsupported literal {v!r}")

    def _value(self, subj: str, pred: str, v, ctx: dict, coerce=None):
        if isinstance(v, dict):
            if "@list" in v:
                items = _as_list(v["@list"])
                if not items:
                    self.emit(subj, pred, RDF_NS + "nil")
                    return
                spine = [self._new_bnode() for _ in items]
                self.emit(subj, pred, spine[0])
                for i, item in enumerate(items):
                    self._value(spine[i], RDF_NS + "first", item, ctx, coerce)
                    nxt = spine[i + 1] if i + 1 < len(items) else RDF_NS + "nil"
                    self.emit(spine[i], RDF_NS + "rest", nxt)
                return
            if "@value" in v:
                val = v["@value"]
                lang = v.get("@language")
                dt = v.get("@type")
                if dt is not None:
                    dt = self._expand(dt, ctx, use_vocab=True) or dt
                    self.emit(subj, pred, _lex(val), dt)
                elif lang is not None:
                    self.emit(subj, pred, _lex(val), _PLAIN, lang)
                else:
                    self._literal(subj, pred, val, ctx, None)
                return
            if set(v) == {"@id"}:
                obj_iri = self._expand(v["@id"], ctx, use_vocab=False)
                if obj_iri is not None:
                    self.emit(subj, pred, obj_iri)
                return
            child = self.node(v, ctx)  # embedded node object
            if child is not None:
                self.emit(subj, pred, child)
            return
        self._literal(subj, pred, v, ctx, coerce)

    def emit(self, s, p, o, dt=None, lang=None):
        self.rows.append((s, p, o, dt, lang))

    def document(self, text: str):
        try:
            doc = json.loads(text)
        except ValueError as e:
            self.errors.append(f"invalid JSON: {e}")
            return self
        for obj in _as_list(doc):
            self.node(obj, {})
        return self


def _as_list(v) -> list:
    return v if isinstance(v, list) else [v]


def _lex(val) -> str:
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, float):
        return repr(val)
    return str(val)


def _jsonld_doc(file: str, text: str) -> _JsonLdParser:
    """One JSON-LD document, parsed the one way :func:`read_jsonld`
    (``.rows``) and :func:`scan_jsonld_errors` (``.errors``) share."""
    return _JsonLdParser(bnode_ns=f"g{_bnode_seed(file)}x").document(text)


def _jsonld_line(file: str, line: str, context: dict) -> _JsonLdParser:
    """One NDJSON-LD line, parsed the one way :func:`read_jsonld_lines`
    (``.rows``) and ``scan_jsonld_errors(lines=True)`` (``.errors``)
    share. A blank line yields nothing; invalid JSON yields one error.
    SYNTHESIZED bnodes are namespaced per (file, line-content hash),
    EXPLICIT ``_:label``s per file (see read_jsonld_lines)."""
    p = _JsonLdParser()
    if not line or not line.strip():
        return p
    try:
        obj = json.loads(line)
    except ValueError as e:
        p.errors.append(f"invalid JSON: {e}")
        return p
    seed = _bnode_seed(file)
    lh = hashlib.md5(line.encode("utf-8")).hexdigest()[:16]
    p = _JsonLdParser(bnode_ns=f"g{seed}h{lh}x", label_ns=f"g{seed}x")
    p.node(obj, dict(context))
    return p


def read_jsonld(spark: SparkSession, path: str) -> DataFrame:
    """JSON-LD file(s) -> TRIPLES_RAW(s, p, o, o_datatype, o_lang); one
    whole file per task, per-file bnode namespace — the Turtle document
    reader's shape. Errors surface via :func:`scan_jsonld_errors`.

    Files above the wholetext bound trigger a warning pointing at
    :func:`read_jsonld_lines` (the line-splittable scale path) — unlike
    Turtle there is no statement-boundary chunker for a JSON value, so the
    guard warns instead of auto-chunking (VERDICT r4 #2)."""
    from .rdf import warn_document_mode_size

    warn_document_mode_size(
        spark, path, "JSON-LD", "read_jsonld_lines (NDJSON, one node object per line)"
    )
    return _parse_stage(
        _text_files(spark, path, whole=True), lambda file, text: _jsonld_doc(file, text).rows
    )


def read_jsonld_lines(
    spark: SparkSession, path: str, context: dict | None = None
) -> DataFrame:
    """NDJSON-LD: one self-contained node object per line — the
    line-SPLITTABLE scale path (crawler/annotation output). The optional
    static ``context`` applies to every line (shared-context corpora);
    per-line ``@context`` keys still override. Bnode scoping (review r4):
    SYNTHESIZED anonymous labels are namespaced per (file, line-CONTENT
    hash) — partition-layout-independent, so the triple set (and any
    determinism hash over it) is identical at every parallelism level,
    unlike a row-id tag would be. Two byte-identical lines in one file
    share a namespace, which is safe: identical documents synthesize
    isomorphic, identically-labeled triples (duplicate rows, no
    cross-structure merge). EXPLICIT ``_:label``s remap per FILE, so a
    subject line and the lines referencing it keep their link
    (write_jsonld round-trip) while labels in different files stay
    distinct."""
    ctx = dict(context or {})
    return _parse_stage(
        _text_files(spark, path, whole=False),
        lambda file, line: _jsonld_line(file, line, ctx).rows,
    )


def render_node_line(s: str, po: list[tuple]) -> str:
    """One subject + its (p, o, o_datatype, o_lang) rows -> one NDJSON-LD
    node-object line (pure function — the write_jsonld render body,
    extracted so the write->read contract is property-testable without
    Spark). Resources (o_datatype NULL) become {"@id": ...}; plain
    literals bare strings; lang/typed literals @value objects; rdf:type
    goes to "@type"."""
    from .rdf import PLAIN_DATATYPES as plain
    from .rdf import RDF_NS as _RDF

    node: dict = {"@id": s}
    for p, o, dt, lang in po:
        if p in (_RDF + "type", "rdf:type", "a"):
            node.setdefault("@type", []).append(o)
            continue
        if dt is None:
            v = {"@id": o}
        elif dt in plain:
            v = {"@value": o, "@language": lang} if lang else o
        else:
            v = {"@value": o, "@type": dt}
        if p in node:
            prev = node[p]
            node[p] = prev + [v] if isinstance(prev, list) else [prev, v]
        else:
            node[p] = v
    return json.dumps(node, sort_keys=True, ensure_ascii=False)


def write_jsonld(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """TRIPLES -> NDJSON-LD text files: one self-contained node object per
    line (exactly what :func:`read_jsonld_lines` consumes — write/read
    round-trips). Line-splittable on re-read, so unlike the XML/Turtle
    document sinks this one IS a scale sink.

    Grouping is a JVM ``collect_list`` per subject (map-side combinable,
    subject-sized groups); JSON rendering is a thin mapInPandas over one
    row per subject. Resources (o_datatype NULL, the reader convention)
    become {"@id": ...}; plain literals bare strings; lang/typed literals
    @value objects; rdf:type goes to "@type"."""
    import pandas as pd

    from .rdf import grouped_by_subject

    cached: list = []
    grouped = grouped_by_subject(triples, _cache=cached)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lines = [
                render_node_line(
                    s,
                    [(r["p"], r["o"], r["o_datatype"], r["o_lang"]) for r in po],
                )
                for s, po in zip(pdf["s"], pdf["po"])
            ]
            yield pd.DataFrame({"value": lines})

    try:
        grouped.mapInPandas(render, schema="value string").write.mode(mode).text(path)
    finally:
        # unpersist the sink's cached intermediate after the write action
        # (ADVICE r4: multi-format exports leaked one copy per sink call)
        for df in cached:
            df.unpersist()


def scan_jsonld_errors(
    spark: SparkSession, path: str, lines: bool = False, context: dict | None = None
) -> DataFrame:
    """What the JSON-LD reader dropped — report, don't crash the ingest.
    ``lines=True`` mirrors :func:`read_jsonld_lines` (one row per bad
    NDJSON line / per-line parse error, with the same shared static
    ``context``); default mirrors :func:`read_jsonld` (whole files)."""
    if lines:
        ctx = dict(context or {})
        return _parse_stage(
            _text_files(spark, path, whole=False),
            lambda file, line: [(line, msg) for msg in _jsonld_line(file, line, ctx).errors],
            _ERROR_SCHEMA,
        )
    return _parse_stage(
        _text_files(spark, path, whole=True),
        lambda file, text: [(file, msg) for msg in _jsonld_doc(file, text).errors],
        _ERROR_SCHEMA,
    )
