"""RDF sources/sinks: N-Triples and a Turtle subset in and out of the
triples DataFrame.

Analog of the reference's GraphParser (src/utils.py:48-75), which
``guess_format``s and loads Turtle files into an in-memory rdflib.Graph.
We keep triples columnar:

- N-Triples: ``spark.read.text`` + built-in regex expressions — JVM-side,
  whole-stage codegen, no Python in the loop. Standard ``_:name`` blank
  nodes supported in subject and object position.
- Turtle (:func:`read_turtle`): FULL Turtle by default — a recursive-
  descent document parser (multiline statements, ``[]`` anonymous bnodes,
  ``( ... )`` collections as rdf:first/rest/nil spines, @prefix/@base,
  long strings) running one file per task inside ``mapInPandas``; single
  pass, prefixes are document-scoped parser state. ``multiline=False``
  selects the statement-per-line subset instead — line-SPLITTABLE for
  huge single-file dumps, also single-scan (workers emit compact pnames +
  markers; expansion happens Catalyst-side from the prefix rows emitted
  in the same pass). :func:`scan_turtle_errors` surfaces whatever either
  mode rejects (fail-soft ingest).

Every Python parse in this module and in jsonld.py runs through one stage:
:func:`_text_files` reads ``(file, value)`` rows (one per file or one per
line) and :func:`_parse_stage` maps a per-row parse over them in a single
``mapInPandas``. Each format has one parser-building function
(:func:`_turtle_doc`, :func:`_turtle_line`, :func:`_rdfxml`,
jsonld's ``_jsonld_doc`` and ``_jsonld_line``): its reader keeps the
parser's ``.rows``, its error scan the parser's ``.errors``, so the two
can never parse differently.

Partition-pruned terminology routing replaces the reference's per-prefix
side graphs (src/utils.py:148-153).
"""

from __future__ import annotations

import functools
import hashlib
import re
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: One N-Triples statement:
#:   (<s> | _:b) <p> (<iri> | _:b | "lit"(^^<dt> | @lang)?) .
#: one N-Triples statement; trailing end-of-line comments after the '.'
#: are spec-legal (review r5 — anchoring on the dot silently dropped
#: conformant hand-annotated dumps)
_NT_RE = (
    r"^\s*(?:<([^>]*)>|(_:\S+))\s+<([^>]*)>\s+"
    r"(?:<([^>]*)>|(_:\S+)|\"((?:[^\"\\]|\\.)*)\"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?)\s*\.\s*(?:#.*)?$"
)


_TRIPLE_SCHEMA = "s string, p string, o string, o_datatype string, o_lang string"
_TRIPLE_COLS = ["s", "p", "o", "o_datatype", "o_lang"]
#: the error scans' rows: what failed (a line, 'file:line' or 'file@byte')
_ERROR_SCHEMA = "value string, error string"


def _text_files(spark: SparkSession, path: str, whole: bool) -> DataFrame:
    """(file, value) rows of the text under ``path``: one per file
    (``whole``, for the document formats) or one per line."""
    return spark.read.text(path, wholetext=whole).select(
        F.input_file_name().alias("file"), "value"
    )


def _parse_stage(src: DataFrame, parse, schema: str = _TRIPLE_SCHEMA) -> DataFrame:
    """The one Python stage of every RDF reader and error scan: a
    ``mapInPandas`` that calls ``parse(*row)`` on each row of ``src`` (its
    columns passed positionally) and types the tuples it returns by the
    DDL ``schema``."""
    import pandas as pd

    cols = [c.split()[0] for c in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                rows.extend(parse(*row))
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(run, schema=schema)


@functools.lru_cache(maxsize=4096)
def _bnode_seed(file: str) -> str:
    """Per-file bnode namespace seed: 64 bits of md5 — birthday-safe to
    ~10^9 files (review r4: the previous 32-bit truncation collided with
    >50% probability around 65k files, silently merging `_:b0` labels
    across the colliding pair at exactly the many-file corpus scale the
    document readers advertise). Memoized: line-mode parsers ask once per
    line, and the lines of one file share the seed."""
    return hashlib.md5(str(file).encode()).hexdigest()[:16]


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples file(s) -> TRIPLES_RAW(s, p, o, o_datatype, o_lang).

    Scales as a plain text scan: line-splittable, predicate pushdown on the
    regexp filter, no shuffle. Comment/blank lines are dropped, malformed
    lines are surfaced via the companion :func:`scan_errors`. Blank nodes
    (``_:name``) are remapped into a per-file namespace
    (``_:g<md5-64(file)>x<name>``) so ``_:b0`` in two .nt files of a
    multi-file read never silently merges — the same scoping rule as the
    Turtle/RDF-XML/JSON-LD readers (ADVICE r4). Few-file unsplittable-
    codec inputs (.nt.gz) respread the raw lines before parsing — the
    guard lives HERE so the direct front door and read_rdf cannot drift
    (review r5)."""
    lines = _text_files(spark, path, whole=False)
    if _should_respread(spark, path):
        lines = lines.repartition(spark.sparkContext.defaultParallelism)
    return ntriples_from_lines(lines, file_col="file")


def ntriples_from_lines(lines: DataFrame, file_col: str | None = None) -> DataFrame:
    """The N-Triples parse plan over a lines DataFrame. Two branches:
    lines WITHOUT ``\\uXXXX``/``\\UXXXXXXXX`` escapes — the
    overwhelming majority — parse through pure column expressions (JVM,
    no Python); lines carrying UCHAR escapes (classic
    ASCII-clean dumps; Jena still emits them) route through a small
    Python decoder, because codepoint conversion is not expressible in
    Catalyst (review r5 — they used to read back with the six literal
    characters, silently diverging from the Turtle reader). When
    ``file_col`` names a provenance column, explicit ``_:label`` bnodes
    are namespaced per file (md5-64 of the column value, matching
    :func:`_bnode_seed`); without it labels are carried verbatim
    (single-document semantics)."""
    # one literal backslash then u/U + 4 hex — over-matching (e.g. an
    # ESCAPED backslash before 'u0041') is safe: the Python branch
    # decodes left-to-right and handles both cases correctly
    uchar = F.col("value").rlike(r"\\[uU][0-9A-Fa-f]{4}")
    fast = _ntriples_jvm_plan(lines.filter(~uchar), file_col)
    slow = _ntriples_python_plan(lines.filter(uchar), file_col)
    return fast.unionByName(slow)


def _ntriples_python_plan(lines: DataFrame, file_col: str | None) -> DataFrame:
    """UCHAR-branch parser: same grammar (the _NT_RE pattern compiles
    identically under Python re), full Turtle-family escape decoding via
    :func:`_unescape` on the RAW groups — never after the JVM's partial
    decode, which would double-decode ``\\\\u0041``."""
    pat = re.compile(_NT_RE)

    def parse(file, line):
        m = pat.match(line or "")
        if not m:
            return ()  # surfaced by scan_errors, as in the JVM branch
        s_iri, s_blank, p, o_iri, o_blank, o_lit, o_dt, o_lang = m.groups()

        def bn(label: str) -> str:
            return label if file is None else f"_:g{_bnode_seed(file)}x{label[2:]}"

        s = _unescape(s_iri) if s_iri else bn(s_blank)
        if o_iri:
            o, dt = _unescape(o_iri), None
        elif o_blank:
            o, dt = bn(o_blank), None
        else:
            o = _unescape(o_lit)
            dt = _unescape(o_dt) if o_dt else _PLAIN
        return [(s, _unescape(p), o, dt, o_lang or None)]

    file = F.col(file_col) if file_col is not None else F.lit(None).cast("string")
    return _parse_stage(lines.select(file, "value"), parse)


def _ntriples_jvm_plan(lines: DataFrame, file_col: str | None = None) -> DataFrame:
    carry = [F.col(file_col)] if file_col is not None else []
    parsed = lines.select(
        *carry,
        F.regexp_extract("value", _NT_RE, 1).alias("s_iri"),
        F.regexp_extract("value", _NT_RE, 2).alias("s_blank"),
        F.regexp_extract("value", _NT_RE, 3).alias("p"),
        F.regexp_extract("value", _NT_RE, 4).alias("o_iri"),
        F.regexp_extract("value", _NT_RE, 5).alias("o_blank"),
        F.regexp_extract("value", _NT_RE, 6).alias("o_lit"),
        F.regexp_extract("value", _NT_RE, 7).alias("o_dt"),
        F.regexp_extract("value", _NT_RE, 8).alias("o_lang"),
        F.col("value"),
    ).filter(F.col("value").rlike(_NT_RE))
    # decode \\ \" \n \r \t — the writer's full escape set
    # (operators/emit.triples_to_ntriples), so write->read round-trips
    # control characters. Order matters for mixed sequences like '\\n'
    # (escaped backslash THEN a literal n): protect '\\' behind a
    # private-use sentinel first, decode the singles, restore. Caveat: a
    # source literal containing U+E000 itself (private-use area, absent
    # from real text) would be corrupted.
    _sent = "\ue000"
    unescaped = F.regexp_replace(F.col("o_lit"), r"\\\\", _sent)
    unescaped = F.regexp_replace(unescaped, r'\\"', '"')
    unescaped = F.regexp_replace(unescaped, r"\\n", "\n")
    unescaped = F.regexp_replace(unescaped, r"\\r", "\r")
    unescaped = F.regexp_replace(unescaped, r"\\t", "\t")
    unescaped = F.regexp_replace(unescaped, _sent, r"\\")
    is_res = (F.col("o_iri") != "") | (F.col("o_blank") != "")
    if file_col is not None:
        # _:name -> _:g<seed>x<name>, seed = md5(file)[:16] (= _bnode_seed)
        _seeded = lambda c: F.concat(  # noqa: E731
            F.lit("_:g"),
            F.md5(F.col(file_col)).substr(1, 16),
            F.lit("x"),
            F.expr(f"substring({c}, 3)"),
        )
        s_blank, o_blank = _seeded("s_blank"), _seeded("o_blank")
    else:
        s_blank, o_blank = F.col("s_blank"), F.col("o_blank")
    return parsed.select(
        F.when(F.col("s_iri") != "", F.col("s_iri")).otherwise(s_blank).alias("s"),
        F.col("p"),
        F.when(F.col("o_iri") != "", F.col("o_iri"))
        .when(F.col("o_blank") != "", o_blank)
        .otherwise(unescaped)
        .alias("o"),
        F.when(is_res, F.lit(None).cast("string"))
        .when(F.col("o_dt") != "", F.col("o_dt"))
        .otherwise(F.lit("xsd:string"))
        .alias("o_datatype"),
        F.when(F.col("o_lang") != "", F.col("o_lang")).otherwise(F.lit(None)).alias("o_lang"),
    )


# --------------------------------------------------------------- Turtle

#: ``@prefix p: <iri> .`` / SPARQL-style ``PREFIX p: <iri>`` (p may be
#: empty); optional trailing comment (review r5 — a commented directive
#: was silently dropped from the line-mode expansion table)
_PREFIX_RE = re.compile(
    r"^\s*(?:@prefix|PREFIX)\s+([A-Za-z][\w.-]*)?:\s*<([^>]*)>\s*\.?\s*(?:#.*)?$",
    re.IGNORECASE,
)
#: ``@base <iri> .`` — line-mode only marker (the document parser resolves)
_BASE_RE = re.compile(r"^\s*(?:@base|BASE)\s+<[^>]*>\s*\.?\s*(?:#.*)?$", re.IGNORECASE)

#: Turtle token stream (shared by the line and document parsers). Order
#: matters: strings and IRIs first so '<', '"' runs never tokenize as
#: pnames; directive keywords before lang tags so '@prefix' is not a lang;
#: pnames before the 'a' keyword (a bare 'a' never matches pname, which
#: requires a colon) and both 'a' and true/false guarded with (?!:) so
#: prefixes named 'a'/'true'/'false' lex as pnames. Names may contain '.'
#: INTERNALLY but never consume a trailing one — per the grammar (PN_LOCAL
#: cannot end with '.', DECIMAL needs digits after it), so `ex:b.` lexes as
#: pname `ex:b` + statement terminator.
_TTL_TOKEN_RE = re.compile(
    r'''
    (?P<longlit>"{3}(?:\\[\s\S]|[^"\\]|"{1,2}(?!"))*"{3})
  | (?P<longlit1>'{3}(?:\\[\s\S]|[^'\\]|'{1,2}(?!'))*'{3})
  | (?P<literal>"(?:[^"\\\n]|\\.)*")
  | (?P<literal1>'(?:[^'\\\n]|\\.)*')
  | (?P<iri><[^>]*>)
  | (?P<prefix_kw>(?i:@?prefix\b(?!:)))
  | (?P<base_kw>(?i:@?base\b(?!:)))
  | (?P<lang>@[A-Za-z][A-Za-z0-9-]*)
  | (?P<dt>\^\^)
  | (?P<blank>_:[\w-]+(?:\.[\w-]+)*)
  | (?P<boolean>\b(?:true|false)\b(?!:))
  | (?P<pname>(?:[A-Za-z][\w-]*(?:\.[\w-]+)*)?:(?:(?:[\w%/#-]|\\[_~.!$&'()*+,;=/?\#@%-])+(?:\.(?:[\w%/#-]|\\[_~.!$&'()*+,;=/?\#@%-])+)*)?)
  | (?P<number>[+-]?(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<a>\ba\b(?!:))
  | (?P<bracket>[\[\]()])
  | (?P<punct>[;,.])
  | (?P<comment>\#[^\n]*)
  | (?P<ws>\s+)
  | (?P<bad>.)
''',
    re.VERBOSE,
)

XSD_NS = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

#: plain-literal sentinel datatype (read_ntriples parity — never expanded)
_PLAIN = "xsd:string"

_ESCAPE_MAP = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
               '"': '"', "'": "'", "\\": "\\"}


def _unescape(s: str) -> str:
    r"""Turtle string-escape decoding (\n, \t, \uXXXX, \UXXXXXXXX, ...).
    Fail-soft by construction (review r3): malformed numeric escapes
    (\uZZZZ) and unpairable surrogates keep their escaped spelling
    verbatim instead of raising — a ValueError here would escape the
    parser's per-statement recovery and kill the whole ingest task, and a
    lone surrogate in the output would crash the pandas->Arrow UTF-8
    conversion. JSON-style \uD8xx\uDCxx surrogate PAIRS (common in real
    dumps) are combined into the single intended codepoint. Unknown
    single-char escapes keep the escaped character."""
    if "\\" not in s:
        return s

    def _hex(start: int, width: int) -> int | None:
        end = start + width
        chunk = s[start:end]
        # strict: int(x, 16) alone accepts '+', whitespace and '_' —
        # '\u+FFF' would silently decode instead of staying verbatim
        if end > len(s) or not all(c in "0123456789abcdefABCDEF" for c in chunk):
            return None
        return int(chunk, 16)

    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\" or i + 1 >= n:
            out.append(c)
            i += 1
            continue
        e = s[i + 1]
        if e == "u":
            cp = _hex(i + 2, 4)
            if cp is None:
                out.append(s[i : i + 2])
                i += 2
                continue
            if 0xD800 <= cp <= 0xDBFF:  # high surrogate: try to pair
                lo = _hex(i + 8, 4) if s[i + 6 : i + 8] == "\\u" else None
                if lo is not None and 0xDC00 <= lo <= 0xDFFF:
                    out.append(chr(0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00)))
                    i += 12
                    continue
            if 0xD800 <= cp <= 0xDFFF:  # unpairable surrogate: keep escaped
                out.append(s[i : i + 6])
                i += 6
                continue
            out.append(chr(cp))
            i += 6
        elif e == "U":
            cp = _hex(i + 2, 8)
            if cp is None or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
                out.append(s[i : i + 2])
                i += 2
                continue
            out.append(chr(cp))
            i += 10
        else:
            out.append(_ESCAPE_MAP.get(e, e))
            i += 2
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str, int]]:
    """-> [(kind, value, start_offset)], whitespace/comments dropped, the
    three extra literal spellings folded to kind='literal'."""
    toks: list[tuple[str, str, int]] = []
    for m in _TTL_TOKEN_RE.finditer(text):
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        if kind in ("longlit", "longlit1", "literal1"):
            kind = "literal"
        toks.append((kind, m.group(), m.start()))
    return toks


class _TurtleError(ValueError):
    pass


_SCHEME_RE = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


class _TurtleParser:
    """Recursive-descent Turtle parser over the shared token stream —
    the engine's from-scratch answer to the reference's rdflib front door
    (GraphParser, src/utils.py:48-75). Handles multiline statements,
    ``[]`` anonymous bnode property lists, ``( ... )`` collections
    (emitted as rdf:first/rest/nil spines — what owl:unionOf consumers
    need, src/rdfwrappers.py:294-322), @prefix/@base directives, long
    strings, numeric/boolean literals, lang tags and datatypes.

    ``mode``:
      - ``expand``  — resolve pnames against the (document-scoped) prefix
        table; synthetic terms ('a', numeric datatypes, list spine) emit
        full IRIs.
      - ``compact`` — keep pnames as written; synthetics emit 'rdf:type',
        'xsd:integer', 'rdf:first', ... (the engine's config spelling).
      - ``defer``   — pnames stay compact but are MARKED (pn_mask bits
        s=1,p=2,o=4,dt=8) for later Catalyst-side expansion; synthetics
        emit full IRIs. This is what makes the splittable line reader
        single-scan: workers need no prefix table.

    ``allow_structs=False`` (line mode) rejects ``[]``/``()`` — a bnode
    synthesized independently per line could collide across lines.

    Rows land in ``self.rows`` as (s, p, o, o_datatype, o_lang, pn_mask);
    plain literals carry the 'xsd:string' sentinel (read_ntriples parity).
    """

    def __init__(self, toks, prefixes=None, mode="expand", bnode_ns="b",
                 allow_structs=True, text="", base=None, offset_base=0,
                 remap_blanks=False):
        self.toks = toks
        self.pos = 0
        self.prefixes: dict[str, str] = dict(prefixes or {})
        self.base: str | None = base
        self.mode = mode
        self.bnode_ns = bnode_ns
        self.n_bnodes = 0
        self.allow_structs = allow_structs
        self.text = text
        #: added to token offsets when labeling synthesized bnodes — lets a
        #: CHUNK of a document produce byte-identical labels to the whole-
        #: document parse (chunked reader)
        self.offset_base = offset_base
        #: RDF blank-node labels are DOCUMENT-scoped (ADVICE r3): when set,
        #: explicit ``_:label`` terms are remapped into the per-document
        #: bnode namespace so serializer-style labels (_:b0, _:b1, ...) in
        #: different files never silently merge in a multi-file read
        self.remap_blanks = remap_blanks
        self.rows: list[tuple] = []
        self.errors: list[tuple[int, str]] = []

    # ---- token helpers
    def _peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None, len(self.text))

    def _next(self):
        t = self._peek()
        if self.pos < len(self.toks):
            self.pos += 1
        return t

    def _line_of(self, start: int) -> int:
        return self.text.count("\n", 0, start) + 1

    def _err(self, msg: str, start: int | None = None):
        if start is None:
            start = self._peek()[2]
        raise _TurtleError(f"line {self._line_of(start)}: {msg}")

    # ---- term constructors: a term is (value, deferred_pname_flag)
    def _std(self, ns_iri: str, pfx: str, local: str):
        if self.mode == "compact":
            return (f"{pfx}:{local}", False)
        return (ns_iri + local, False)

    def _rdf(self, local: str):
        return self._std(RDF_NS, "rdf", local)

    def _xsd(self, local: str):
        return self._std(XSD_NS, "xsd", local)

    def _pname_term(self, val: str):
        if "\\" in val:  # PN_LOCAL_ESC: '\,' '\(' ... -> the bare char
            val = re.sub(r"\\([_~.!$&'()*+,;=/?#@%-])", r"\1", val)
        if self.mode == "compact":
            return (val, False)
        if self.mode == "defer":
            return (val, True)
        pfx, _, local = val.partition(":")
        base = self.prefixes.get(pfx)
        return (base + local, False) if base is not None else (val, False)

    def _resolve_iri(self, raw: str) -> str:
        # one base-resolution implementation across parsers (review r5)
        return _resolve_against(self.base, raw)

    def _iri_term(self, val: str):
        return (self._resolve_iri(val[1:-1]), False)

    def _new_bnode(self, at: int | None = None, tag: str = "o"):
        """Synthesized anonymous bnode. Labeled by the BYTE OFFSET of the
        originating token (plus chunk base) rather than a running counter:
        offsets are unique per document and invariant under chunked
        parsing, so the chunked reader reproduces the single-task labels
        bit-for-bit. ``tag`` separates label spaces that can share an
        offset (a collection spine node and an anonymous '[' item both
        anchor on the item's first token). Falls back to a counter when no
        offset is available."""
        if at is None:
            self.n_bnodes += 1
            return (f"_:{self.bnode_ns}{self.n_bnodes}", False)
        return (f"_:{self.bnode_ns}{tag}{self.offset_base + at}", False)

    def _blank_term(self, val: str):
        if self.remap_blanks:
            return (f"_:{self.bnode_ns}_{val[2:]}", False)
        return (val, False)

    def emit(self, s, p, o, dt=None, lang=None):
        mask = (
            (1 if s[1] else 0)
            | (2 if p[1] else 0)
            | (4 if o[1] else 0)
            | (8 if dt is not None and dt[1] else 0)
        )
        self.rows.append((s[0], p[0], o[0], dt[0] if dt else None, lang, mask))

    # ---- grammar
    def _literal_any(self, kind):
        """literal/number/boolean -> (text, dt_term, lang)."""
        _, val, start = self._next()
        if kind == "number":
            local = (
                "integer" if re.fullmatch(r"[+-]?\d+", val)
                else ("double" if "e" in val.lower() else "decimal")
            )
            return val, self._xsd(local), None
        if kind == "boolean":
            return val, self._xsd("boolean"), None
        body = val[3:-3] if val[:3] in ('"""', "'''") else val[1:-1]
        text = _unescape(body)
        k2, v2, _ = self._peek()
        if k2 == "dt":
            self._next()
            k3, v3, s3 = self._next()
            if k3 == "iri":
                return text, self._iri_term(v3), None
            if k3 == "pname":
                return text, self._pname_term(v3), None
            self._err(f"expected datatype IRI after '^^', got {v3!r}", s3)
        if k2 == "lang":
            self._next()
            return text, (_PLAIN, False), v2[1:]
        return text, (_PLAIN, False), None

    def _resource(self, role: str):
        kind, val, start = self._peek()
        if kind == "iri":
            self._next()
            return self._iri_term(val)
        if kind == "pname":
            self._next()
            return self._pname_term(val)
        if kind == "a" and role == "verb":
            self._next()
            # per the grammar 'a' ALWAYS denotes rdf-syntax-ns#type, even
            # if the corpus re-declares the 'rdf:' prefix
            return self._rdf("type")
        if role == "subject":
            if kind == "blank":
                self._next()
                return self._blank_term(val)
            if kind == "bracket" and val == "(":
                return self._collection()
        self._err(f"expected {role}, got {kind}={val!r}", start)

    def _object(self):
        """-> (o_term, dt_term_or_None, lang_or_None)."""
        kind, val, start = self._peek()
        if kind == "iri":
            self._next()
            return self._iri_term(val), None, None
        if kind == "pname":
            self._next()
            return self._pname_term(val), None, None
        if kind == "blank":
            self._next()
            return self._blank_term(val), None, None
        if kind == "bracket" and val == "[":
            return self._bnode_prop_list(), None, None
        if kind == "bracket" and val == "(":
            return self._collection(), None, None
        if kind in ("literal", "number", "boolean"):
            text, dt, lang = self._literal_any(kind)
            return (text, False), dt, lang
        self._err(f"expected object term, got {kind}={val!r}", start)

    def _expect_bracket(self, want: str):
        kind, val, start = self._next()
        if kind != "bracket" or val != want:
            self._err(f"expected {want!r}, got {kind}={val!r}", start)

    def _bnode_prop_list(self):
        if not self.allow_structs:
            self._err("'[' anonymous bnodes need the multiline (document) reader")
        open_at = self._peek()[2]
        self._expect_bracket("[")
        b = self._new_bnode(open_at)
        k, v, _ = self._peek()
        if not (k == "bracket" and v == "]"):
            self._predicate_object_list(b)
        self._expect_bracket("]")
        return b

    def _collection(self):
        if not self.allow_structs:
            self._err("'(' collections need the multiline (document) reader")
        self._expect_bracket("(")
        items = []
        item_offsets: list[int] = []
        while True:
            kind, val, start = self._peek()
            if kind is None:
                self._err("unterminated '(' collection", start)
            if kind == "bracket" and val == ")":
                self._next()
                break
            item_offsets.append(start)
            items.append(self._object())
        if not items:
            return self._rdf("nil")
        nodes = [self._new_bnode(at, tag="c") for at in item_offsets]
        for i, ((o, dt, lang), node) in enumerate(zip(items, nodes)):
            self.emit(node, self._rdf("first"), o, dt, lang)
            nxt = nodes[i + 1] if i + 1 < len(nodes) else self._rdf("nil")
            self.emit(node, self._rdf("rest"), nxt)
        return nodes[0]

    def _predicate_object_list(self, s):
        while True:
            p = self._resource("verb")
            while True:
                o, dt, lang = self._object()
                self.emit(s, p, o, dt, lang)
                k, v, _ = self._peek()
                if k == "punct" and v == ",":
                    self._next()
                    continue
                break
            k, v, _ = self._peek()
            if k == "punct" and v == ";":
                while self._peek()[:2] == ("punct", ";"):  # ';' runs are legal
                    self._next()
                k2, _v2, _ = self._peek()
                if k2 in ("iri", "pname", "a"):
                    continue
            break

    def _statement(self):
        kind, val, start = self._peek()
        if kind == "bad":
            self._err(f"unexpected character {val!r}", start)
        if kind == "bracket" and val == "[":
            s = self._bnode_prop_list()
            k, v, _ = self._peek()
            if not (k == "punct" and v == "."):
                self._predicate_object_list(s)
        else:
            s = self._resource("subject")
            self._predicate_object_list(s)
        k, v, st = self._peek()
        if k == "punct" and v == ".":
            self._next()
        else:
            self._err(f"expected ';' ',' or '.', got {k}={v!r}", st)

    def _directive(self):
        kw, _, _ = self._next()
        if kw == "prefix_kw":
            k, v, st = self._next()
            if k != "pname" or not v.endswith(":") or v.count(":") != 1:
                self._err(f"expected 'p:' prefix label, got {v!r}", st)
            pfx = v[:-1]
            k2, v2, st2 = self._next()
            if k2 != "iri":
                self._err(f"expected IRI in prefix directive, got {v2!r}", st2)
            iri = self._resolve_iri(v2[1:-1])
            self.prefixes[pfx] = iri
        else:
            k, v, st = self._next()
            if k != "iri":
                self._err(f"expected IRI in base directive, got {v!r}", st)
            self.base = self._resolve_iri(v[1:-1])
        if self._peek()[:2] == ("punct", "."):
            self._next()

    def document(self):
        """Whole-document parse, fail-soft: a bad statement is recorded in
        ``self.errors`` (with its line), its partial rows rolled back, and
        parsing resyncs past the next '.' — one lost statement, not a lost
        100 TB ingest."""
        while self.pos < len(self.toks):
            kind, _val, start = self._peek()
            n_rows = len(self.rows)
            try:
                if kind in ("prefix_kw", "base_kw"):
                    self._directive()
                else:
                    self._statement()
            except _TurtleError as e:
                del self.rows[n_rows:]
                self.errors.append((self._line_of(start), str(e)))
                while self.pos < len(self.toks):  # resync past next '.'
                    k, v, _ = self._next()
                    if k == "punct" and v == ".":
                        break

    def statement_line(self):
        """Line mode: exactly one statement, full token consumption."""
        if not self.toks:
            return
        self._statement()
        if self.pos != len(self.toks):
            self._err(
                f"trailing tokens after '.': {[t[1] for t in self.toks[self.pos:]]!r} "
                "(one statement per line)"
            )


def _parse_turtle_line(line: str, prefixes: dict[str, str], expand: bool):
    """One Turtle statement line -> list of (s, p, o, o_datatype, o_lang),
    with a given prefix table and ``_:label``s kept verbatim — the line
    grammar on its own, as the property tests drive it (the line reader
    and scan go through :func:`_turtle_line`).

    Raises ValueError on anything outside the line subset."""
    toks = _tokenize(line)
    if not toks:
        return []
    p = _TurtleParser(
        toks,
        prefixes=prefixes,
        mode="expand" if expand else "compact",
        allow_structs=False,
        text=line,
    )
    p.statement_line()
    return [r[:5] for r in p.rows]


def _expand_col(name: str, bit: int, prefixes: dict[str, str]):
    """Catalyst-side pname expansion for the deferred line reader: value is
    expanded iff its pn_mask bit is set and its prefix is declared (prefix
    labels contain no ':', so `startswith(pfx + ':')` is unambiguous and
    order-free). Undeclared prefixes stay compact — parser parity."""
    col = F.col(name)
    marked = F.col("pn_mask").bitwiseAND(F.lit(bit)) != 0
    expr = col
    for pfx, iri in prefixes.items():
        expr = F.when(
            marked & col.startswith(pfx + ":"),
            F.concat(F.lit(iri), F.substring(col, len(pfx) + 2, 2147483647)),
        ).otherwise(expr)
    return expr.alias(name)


def _turtle_line(file: str, line: str, mode: str = "expand") -> _TurtleParser:
    """One line of statement-per-line Turtle, parsed the one way the line
    reader (``.rows``) and its error scan (``.errors``) share. Blank and
    directive lines yield nothing; a statement yields its rows, with
    explicit ``_:label`` blank nodes in the file's namespace; a rejected
    statement yields one error and no rows."""
    skip = not line or _PREFIX_RE.match(line) or _BASE_RE.match(line)
    parser = _TurtleParser(
        [] if skip else _tokenize(line), mode=mode, allow_structs=False,
        text=line, bnode_ns=f"g{_bnode_seed(file)}x", remap_blanks=True,
    )
    try:
        parser.statement_line()
    except ValueError as e:
        del parser.rows[:]
        parser.errors.append((1, str(e)))
    return parser


def _read_turtle_lines(spark: SparkSession, path: str, expand_prefixes: bool) -> DataFrame:
    """Statement-per-line Turtle — the SPLITTABLE scale path (a 100 TB
    single-file dump parallelizes by line ranges). SINGLE text scan:
    workers parse with compact pnames + pn_mask markers and emit prefix
    directives as tagged rows ('p' prefix rows, 't' triple rows) in the
    same pass; expansion happens Catalyst-side from the collected (tiny)
    prefix table. In expand mode the parsed columnar output is
    localCheckpoint'ed once — the price of the single scan is one
    materialization of the PARSED triples (much smaller than the raw
    text), not a second pass over the corpus. Few-file unsplittable-codec
    inputs respread the raw lines before the parse stage, as in
    :func:`read_ntriples`.

    Prefix scope (ADVICE r3, review r5): declarations are collected PER
    FILE and last-wins within a file — a statement textually before a
    later ``@prefix`` line of the SAME file expands with the final
    mapping (statement-per-line corpora declare prefixes once up front,
    where the semantics coincide; within-file conflicts are surfaced by
    :func:`scan_turtle_errors`). Across files: when all files' tables
    agree they merge into ONE Catalyst expansion (a prefix declared only
    in file A also expands in file B — the documented last-wins
    divergence); when files DISAGREE on a label, expansion switches to
    file-keyed expressions so each file's pnames expand against its own
    declarations instead of an arbitrary collect-order winner. Explicit
    ``_:label`` blank nodes are remapped into a per-FILE namespace (labels
    are document-scoped; ``_:b0`` in two files must not merge)."""
    lines = _text_files(spark, path, whole=False)
    if _should_respread(spark, path):
        # the file column is captured before the shuffle, so the respread
        # does not lose provenance
        lines = lines.repartition(spark.sparkContext.defaultParallelism)
    mode = "defer" if expand_prefixes else "compact"

    def parse(file, line):
        m = _PREFIX_RE.match(line or "")
        if m:
            # prefix rows carry their FILE: prefixes are file-scoped
            # declarations (review r5 — a corpus-wide table let one file's
            # namespace rebind another's)
            return [("p", file, m.group(1) or "", None, m.group(2), None, None, 0)]
        return [("t", file, *r) for r in _turtle_line(file, line, mode).rows]

    parsed = _parse_stage(
        lines, parse, f"kind string, file string, {_TRIPLE_SCHEMA}, pn_mask int"
    )
    if not expand_prefixes:
        return parsed.filter(F.col("kind") == "t").select(*_TRIPLE_COLS)
    parsed = parsed.localCheckpoint(eager=True)
    per_file: dict[str, dict[str, str]] = {}
    for r in (
        parsed.filter(F.col("kind") == "p").select("file", "s", "o").collect()
    ):
        per_file.setdefault(r["file"], {})[r["s"]] = r["o"]
    merged: dict[str, str] = {}
    conflict = False
    for d in per_file.values():
        for pfx, iri in d.items():
            if merged.setdefault(pfx, iri) != iri:
                conflict = True
    triples_only = parsed.filter(F.col("kind") == "t")
    if not conflict:
        return triples_only.select(
            _expand_col("s", 1, merged),
            _expand_col("p", 2, merged),
            _expand_col("o", 4, merged),
            _expand_col("o_datatype", 8, merged),
            F.col("o_lang"),
        )
    n_branches = sum(len(d) for d in per_file.values())
    if n_branches > 1024:
        raise ValueError(
            f"{len(per_file)} files declare CONFLICTING prefix tables "
            f"({n_branches} file-scoped declarations — too many for "
            "expression-level expansion); read the files separately or "
            "use document mode"
        )

    def expand_per_file(name: str, bit: int):
        # ONE flat CaseWhen (review r6): the old when().otherwise(prev)
        # nesting built a CaseWhen tree up to 1024 levels deep per column,
        # risking driver StackOverflowError in Catalyst's recursive
        # analysis well below the branch-count guard. Conditions are
        # disjoint (a row has one file; prefixes cannot contain ':'), so
        # branch order is irrelevant and chained .when() is equivalent.
        col = F.col(name)
        marked = F.col("pn_mask").bitwiseAND(F.lit(bit)) != 0
        expr = None
        for f, d in per_file.items():
            for pfx, iri in d.items():
                cond = marked & (F.col("file") == f) & col.startswith(pfx + ":")
                val = F.concat(F.lit(iri), F.substring(col, len(pfx) + 2, 2147483647))
                expr = F.when(cond, val) if expr is None else expr.when(cond, val)
        return (col if expr is None else expr.otherwise(col)).alias(name)

    return triples_only.select(
        expand_per_file("s", 1),
        expand_per_file("p", 2),
        expand_per_file("o", 4),
        expand_per_file("o_datatype", 8),
        F.col("o_lang"),
    )


def _resolve_against(base: str | None, raw: str) -> str:
    if base and not _SCHEME_RE.match(raw):
        from urllib.parse import urljoin

        return urljoin(base, raw)
    return raw


def _chunk_turtle_text(text: str, target_bytes: int):
    """Block-splitting pre-pass for giant multiline files (VERDICT r3 #7):
    tokenize once, cut at top-level statement terminators ('.' puncts at
    bracket depth 0 — guaranteed between statements, never inside strings,
    ``[]`` or ``()``), and carry the directive state (prefix table + base,
    applied in declaration order) into each chunk so chunks parse
    independently. Returns [(chunk_text, offset_base, prefixes, base)].
    Combined with offset-based bnode labels, the chunked parse output is
    byte-identical to the whole-document parse."""
    toks = _tokenize(text)
    cuts: list[int] = []  # character offsets where a new chunk may start
    decls: list[tuple[int, str, str, str | None]] = []  # (off, kind, a, b)
    depth = 0
    i, n = 0, len(toks)
    last_cut = 0
    while i < n:
        kind, val, start = toks[i]
        if kind == "bracket":
            depth += 1 if val in "[(" else -1
        elif kind == "prefix_kw" and depth == 0 and i + 2 < n:
            k1, v1, _ = toks[i + 1]
            k2, v2, _ = toks[i + 2]
            if k1 == "pname" and v1.endswith(":") and k2 == "iri":
                decls.append((start, "p", v1[:-1], v2[1:-1]))
        elif kind == "base_kw" and depth == 0 and i + 1 < n:
            k1, v1, _ = toks[i + 1]
            if k1 == "iri":
                decls.append((start, "b", v1[1:-1], None))
        elif kind == "punct" and val == "." and depth <= 0:
            end = start + 1
            if end - last_cut >= target_bytes and i + 1 < n:
                cuts.append(toks[i + 1][2])  # start of the next token
                last_cut = end
        i += 1

    starts = [0, *cuts]
    out = []
    di = 0
    prefixes: dict[str, str] = {}
    base: str | None = None
    for ci, s0 in enumerate(starts):
        # advance directive state to everything declared BEFORE this chunk
        while di < len(decls) and decls[di][0] < s0:
            _off, k, a, b = decls[di]
            if k == "p":
                prefixes[a] = _resolve_against(base, b)
            else:
                base = _resolve_against(base, a)
            di += 1
        s1 = starts[ci + 1] if ci + 1 < len(starts) else len(text)
        out.append((text[s0:s1], s0, dict(prefixes), base))
    return out


def _turtle_doc(
    file: str, text: str, mode: str = "expand", prefixes: dict[str, str] | None = None,
    base: str | None = None, offset: int = 0,
) -> _TurtleParser:
    """One Turtle document (or one chunk of it, starting at character
    ``offset`` under the directive state ``prefixes``/``base``), parsed
    fail-soft the one way the document reader (``.rows``) and its error
    scan (``.errors``) share, with the file's bnode namespace."""
    parser = _TurtleParser(
        _tokenize(text), prefixes=prefixes, mode=mode, bnode_ns=f"g{_bnode_seed(file)}x",
        text=text, base=base, offset_base=offset, remap_blanks=True,
    )
    parser.document()
    return parser


def _read_turtle_documents(
    spark: SparkSession, path: str, expand_prefixes: bool, chunk_bytes: int | None = None
) -> DataFrame:
    """Full Turtle — one whole file per task (``wholetext``), the same
    non-splittable trade Spark itself makes for multiLine JSON/CSV;
    parallelism comes from the file count (CC-style corpora are many
    files). Single pass: prefixes are document-scoped state inside the
    parser — no driver collect, no second scan.

    Blank nodes never collide across files in one read: synthesized ``[]``
    / ``()`` labels are namespaced by a hash of the file path and numbered
    by token byte offset, and explicit ``_:label`` terms are remapped into
    the same per-file namespace (RDF bnode labels are document-scoped —
    two files both using serializer-style ``_:b0`` stay distinct).

    ``chunk_bytes``: when set, a tokenizer-level pre-pass splits each file
    at top-level statement boundaries into ~chunk_bytes blocks that are
    shuffled across the cluster and parsed in parallel — the giant-single-
    file path for DOCUMENT mode (line mode is natively splittable). The
    splitter task still holds one file's text (wholetext), but the parse —
    the expensive part — runs one task per chunk, and offset-based bnode
    labels make the output identical to the single-task parse."""
    import json

    files = _text_files(spark, path, whole=True)
    mode = "expand" if expand_prefixes else "compact"
    if chunk_bytes is None:
        return _parse_stage(
            files, lambda file, text: [r[:5] for r in _turtle_doc(file, text, mode).rows]
        )

    def split(file, text):
        return [
            (file, off, chunk, json.dumps(pfx), base)
            for chunk, off, pfx, base in _chunk_turtle_text(text, chunk_bytes)
        ]

    def parse_chunk(file, off, chunk, prefixes, base):
        parser = _turtle_doc(
            file, chunk, mode, json.loads(prefixes), base or None, int(off)
        )
        return [r[:5] for r in parser.rows]

    chunks = _parse_stage(
        files, split, "file string, off long, chunk string, prefixes string, base string"
    ).repartition(F.col("file"), F.col("off"))
    return _parse_stage(chunks, parse_chunk)


def read_turtle(
    spark: SparkSession,
    path: str,
    expand_prefixes: bool = True,
    multiline: bool = True,
    chunk_bytes: int | None = None,
) -> DataFrame:
    """Turtle file(s) -> TRIPLES_RAW(s, p, o, o_datatype, o_lang).

    ``multiline=True`` (default): FULL Turtle via the document parser —
    multiline statements, ``[]`` anonymous bnodes, ``( ... )`` collections
    (emitted as rdf:first/rest/nil spines for the rdfq list expansion,
    operators/rdfq.py:38), long strings, @base. rdflib front-door parity
    (GraphParser, src/utils.py:48-75). One task per file.

    ``multiline=False``: the statement-per-line subset — line-SPLITTABLE
    (the 100 TB single-file path) and single-scan via deferred pname
    expansion. Unparseable lines are skipped here and surfaced by
    :func:`scan_turtle_errors` (fail-soft, same posture as read_ntriples).
    Few-file unsplittable-codec inputs (.ttl.gz) respread the raw lines
    before parsing, the same guard as read_ntriples.

    ``expand_prefixes``: True resolves prefixed names to full IRIs
    (rdflib parity); False keeps the compact ``p:local`` form the engine's
    configs use. Plain literals carry the 'xsd:string' sentinel datatype
    either way (read_ntriples parity).

    ``chunk_bytes`` (document mode only): split each file at top-level
    statement boundaries into ~chunk_bytes blocks parsed in parallel —
    FULL Turtle for giant single files, with output identical to the
    single-task parse (offset-stable bnode labels)."""
    if multiline:
        return _read_turtle_documents(spark, path, expand_prefixes, chunk_bytes)
    return _read_turtle_lines(spark, path, expand_prefixes)


def scan_turtle_errors(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """What the Turtle reader could not parse — report, don't crash the
    100 TB ingest. Document mode: one row per failed statement
    ('file:line', error); line mode: one row per rejected line."""
    if multiline:
        return _parse_stage(
            _text_files(spark, path, whole=True),
            lambda file, text: [
                (f"{file}:{ln}", msg) for ln, msg in _turtle_doc(file, text).errors
            ],
            _ERROR_SCHEMA,
        )

    # ADVICE r3: line mode's prefix table is whole-file last-wins — a label
    # re-declared with a DIFFERENT IRI silently picks one; surface it here
    seen: dict[str, str] = {}
    dup_rows: list[tuple[str, str]] = []
    for r in (
        spark.read.text(path)
        # (?i): the directive keyword is case-insensitive (matching
        # _PREFIX_RE)
        .filter(F.col("value").rlike(r"(?i)^\s*(@prefix|prefix)\s"))
        .collect()
    ):
        m = _PREFIX_RE.match(r["value"])
        if not m:
            continue
        label, iri = m.group(1) or "", m.group(2)
        if label in seen and seen[label] != iri:
            dup_rows.append(
                (r["value"],
                 f"prefix '{label}:' re-declared with conflicting IRI "
                 f"(<{seen[label]}> vs <{iri}>); line mode applies last-wins "
                 "whole-file scope — use the document reader for "
                 "declaration-ordered semantics")
            )
        seen[label] = iri

    scanned = _parse_stage(
        _text_files(spark, path, whole=False),
        lambda file, line: [(line, msg) for _ln, msg in _turtle_line(file, line).errors],
        _ERROR_SCHEMA,
    )
    if dup_rows:
        scanned = scanned.unionByName(spark.createDataFrame(dup_rows, _ERROR_SCHEMA))
    return scanned


# --------------------------------------------------------------- RDF/XML

_XML_NS = "http://www.w3.org/XML/1998/namespace"
#: rdf: attributes that are syntax, not property attributes
_RDFXML_SYNTAX_ATTRS = {
    RDF_NS + a for a in ("about", "ID", "nodeID", "resource", "datatype", "parseType", "li")
}


class _RdfXmlParser:
    """RDF/XML subset parser on stdlib ``xml.parsers.expat`` — the second
    front-door format the reference accepts via rdflib ``guess_format``
    (src/utils.py:58-63); real ontology distributions ship ``.rdf/.owl``
    RDF/XML alongside Turtle. From-scratch streaming SAX design (no DOM:
    a 1 GB .owl never materializes a tree), original to this engine.

    Supported (the shapes OWL/SPHN-style ontologies actually use):
    ``rdf:RDF`` root or a bare node element, ``rdf:Description`` and typed
    node elements, ``rdf:about``/``rdf:ID``/``rdf:nodeID``, nested node
    elements (striped syntax), ``rdf:resource``/``rdf:nodeID`` property
    shortcuts, ``rdf:datatype``, ``xml:lang``/``xml:base`` inheritance,
    ``rdf:parseType="Resource"`` and ``="Collection"`` (collections emit
    the same rdf:first/rest/nil spines as the Turtle parser — what the
    rdfq owl:unionOf expansion consumes), ``rdf:li`` -> ``rdf:_n``
    numbering, and property attributes on node elements.
    ``rdf:parseType="Literal"`` is approximated: character data is kept,
    embedded markup is dropped, datatype rdf:XMLLiteral is stamped.

    Blank nodes: synthesized labels are namespaced (``bnode_ns``) and
    numbered by byte offset; explicit ``rdf:nodeID`` labels are remapped
    into the same per-document namespace (labels are document-scoped).

    Plain literals carry the 'xsd:string' sentinel datatype and IRIs are
    always full (XML namespaces are full IRIs) — read_turtle
    (expand mode) / read_ntriples parity."""

    def __init__(self, bnode_ns: str = "b", base: str | None = None):
        self.bnode_ns = bnode_ns
        self.rows: list[tuple] = []
        self.errors: list[tuple[int, str]] = []
        # frame: {"kind": "node"|"prop"|"root", ...}
        self.stack: list[dict] = [{"kind": "root", "base": base, "lang": None}]
        self.byte_index = 0

    # ---- helpers
    def _bnode(self, at: int) -> str:
        return f"_:{self.bnode_ns}o{at}"

    def _nodeid(self, label: str) -> str:
        return f"_:{self.bnode_ns}_{label}"

    def emit(self, s, p, o, dt=None, lang=None):
        self.rows.append((s, p, o, dt, lang))

    def _err(self, msg: str):
        self.errors.append((self.byte_index, msg))

    # ---- expat handlers (wired by parse())
    def start(self, name: str, attrs: dict[str, str]):
        parent = self.stack[-1]
        base = attrs.get(_XML_NS + " base", parent.get("base"))
        lang = attrs.get(_XML_NS + " lang", parent.get("lang"))
        iri = name.replace(" ", "")
        at = self.byte_index

        if parent["kind"] == "prop" and parent.get("literal_mode"):
            parent.setdefault("xml_depth", 0)
            parent["xml_depth"] += 1
            return

        if parent["kind"] in ("root", "prop") or (
            parent["kind"] == "node" and parent.get("is_rdf_root")
        ):
            # expecting a NODE element (or the rdf:RDF wrapper at root)
            if parent["kind"] == "root" and iri == RDF_NS + "RDF":
                self.stack.append(
                    {"kind": "node", "is_rdf_root": True, "base": base, "lang": lang}
                )
                return
            nattrs = {k.replace(" ", ""): v for k, v in attrs.items()}
            if RDF_NS + "about" in nattrs:
                subj = _resolve_against(base, nattrs[RDF_NS + "about"])
            elif RDF_NS + "ID" in nattrs:
                subj = _resolve_against(base, "#" + nattrs[RDF_NS + "ID"])
            elif RDF_NS + "nodeID" in nattrs:
                subj = self._nodeid(nattrs[RDF_NS + "nodeID"])
            else:
                subj = self._bnode(at)
            if iri != RDF_NS + "Description":
                self.emit(subj, RDF_NS + "type", iri)
            # property attributes (non-syntax, non-xml-namespace)
            for k, v in nattrs.items():
                if k in _RDFXML_SYNTAX_ATTRS or k.startswith(_XML_NS) or " " in k:
                    continue
                if k == RDF_NS + "type":
                    # must precede the colon skip: RDF_NS+'type' strips to a
                    # colon-free 'type' and would be dropped (ADVICE r4)
                    self.emit(subj, RDF_NS + "type", _resolve_against(base, v))
                    continue
                if ":" not in k.replace(RDF_NS, ""):  # un-namespaced attr: skip
                    continue
                self.emit(subj, k, v, _PLAIN, lang)
            # link into the enclosing property
            if parent["kind"] == "prop":
                if parent.get("collection") is not None:
                    parent["collection"].append((subj, at))
                else:
                    self.emit(parent["subj"], parent["pred"], subj)
                    parent["object_emitted"] = True
            self.stack.append(
                {"kind": "node", "subj": subj, "base": base, "lang": lang, "li": 0}
            )
            return

        # expecting a PROPERTY element of the current node
        node = parent
        if iri == RDF_NS + "li":
            node["li"] = node.get("li", 0) + 1
            pred = f"{RDF_NS}_{node['li']}"
        else:
            pred = iri
        nattrs = {k.replace(" ", ""): v for k, v in attrs.items()}
        frame = {
            "kind": "prop",
            "subj": node["subj"],
            "pred": pred,
            "base": base,
            "lang": lang,
            "dt": None,
            "text": [],
            "object_emitted": False,
            "collection": None,
        }
        ptype = nattrs.get(RDF_NS + "parseType")
        if ptype == "Resource":
            b = self._bnode(at)
            self.emit(node["subj"], pred, b)
            # striped shift: children are PROPERTY elements of the new bnode
            self.stack.append(
                {"kind": "node", "subj": b, "base": base, "lang": lang, "li": 0}
            )
            return
        if ptype == "Collection":
            frame["collection"] = []
        elif ptype == "Literal":
            frame["literal_mode"] = True
            frame["dt"] = RDF_NS + "XMLLiteral"
        elif RDF_NS + "resource" in nattrs:
            obj = _resolve_against(base, nattrs[RDF_NS + "resource"])
            self.emit(node["subj"], pred, obj)
            frame["object_emitted"] = True
            frame["obj"] = obj
        elif RDF_NS + "nodeID" in nattrs:
            obj = self._nodeid(nattrs[RDF_NS + "nodeID"])
            self.emit(node["subj"], pred, obj)
            frame["object_emitted"] = True
            frame["obj"] = obj
        if RDF_NS + "datatype" in nattrs:
            frame["dt"] = _resolve_against(base, nattrs[RDF_NS + "datatype"])
        # property attributes are recorded here but handled at END-element:
        # whether they describe an implicit bnode object depends on the
        # element being EMPTY, which is unknowable at start (review r4: an
        # eager bnode emitted a second object triple when a node child or
        # collection followed)
        frame["prop_attrs"] = [
            (k, v)
            for k, v in nattrs.items()
            if k not in _RDFXML_SYNTAX_ATTRS
            and not k.startswith(_XML_NS)
            and (k == RDF_NS + "type" or ":" in k.replace(RDF_NS, ""))
        ]
        frame["at"] = at
        self.stack.append(frame)

    def chars(self, data: str):
        top = self.stack[-1]
        if top["kind"] == "prop":
            top["text"].append(data)
        elif top["kind"] == "node" and data.strip() and not top.get("is_rdf_root"):
            self._err(f"unexpected text content {data.strip()[:40]!r} inside node element")

    def end(self, name: str):
        top = self.stack[-1]
        if top["kind"] == "prop" and top.get("literal_mode") and top.get("xml_depth", 0) > 0:
            top["xml_depth"] -= 1
            return
        frame = self.stack.pop()
        if frame["kind"] != "prop":
            return
        attrs = frame.get("prop_attrs") or []
        if frame["collection"] is not None:
            if attrs:
                self._err("property attributes on a parseType=Collection property; dropped")
            items = frame["collection"]
            if not items:
                self.emit(frame["subj"], frame["pred"], RDF_NS + "nil")
                return
            spine = [f"_:{self.bnode_ns}c{at}" for _subj, at in items]
            self.emit(frame["subj"], frame["pred"], spine[0])
            for i, (subj, _at) in enumerate(items):
                self.emit(spine[i], RDF_NS + "first", subj)
                nxt = spine[i + 1] if i + 1 < len(items) else RDF_NS + "nil"
                self.emit(spine[i], RDF_NS + "rest", nxt)
            return
        if frame["object_emitted"]:
            text = "".join(frame["text"])
            if text.strip():
                self._err("both a resource object and text content in one property")
            if attrs:
                if frame.get("obj") is not None:
                    # rdf:resource/rdf:nodeID shortcut: attrs describe it
                    for k, v in attrs:
                        if k == RDF_NS + "type":
                            self.emit(
                                frame["obj"],
                                k,
                                _resolve_against(frame.get("base"), v),
                            )
                        else:
                            self.emit(frame["obj"], k, v, _PLAIN, frame.get("lang"))
                else:  # a node-element child supplied the object
                    self._err("property attributes plus element content; attrs dropped")
            return
        text = "".join(frame["text"])
        if attrs and frame["dt"] is None and not frame.get("literal_mode"):
            # EMPTY property element with property attributes: the spec'd
            # implicit bnode object carrying those attributes
            if text.strip():
                self._err("property attributes plus text content; attrs dropped")
            else:
                b = self._bnode(frame["at"])
                self.emit(frame["subj"], frame["pred"], b)
                for k, v in attrs:
                    if k == RDF_NS + "type":
                        self.emit(
                            b, k, _resolve_against(frame.get("base"), v)
                        )
                    else:
                        self.emit(b, k, v, _PLAIN, frame.get("lang"))
                return
        if frame["dt"] is not None:
            self.emit(frame["subj"], frame["pred"], text, frame["dt"], None)
        else:
            self.emit(frame["subj"], frame["pred"], text, _PLAIN, frame.get("lang"))

    def parse(self, data: bytes | str):
        """Fail-soft whole-document parse: XML well-formedness errors stop
        expat cold (it cannot resync), so the error is recorded with its
        line and the triples emitted so far are kept."""
        import xml.parsers.expat as expat

        p = expat.ParserCreate(namespace_separator=" ")

        def _track(handler):
            def wrapped(*args):
                self.byte_index = p.CurrentByteIndex
                return handler(*args)

            return wrapped

        p.StartElementHandler = _track(self.start)
        p.EndElementHandler = _track(self.end)
        p.CharacterDataHandler = _track(self.chars)
        p.buffer_text = True
        if isinstance(data, str):
            data = data.encode("utf-8")
        try:
            p.Parse(data, True)
        except expat.ExpatError as e:
            self.errors.append(
                (p.CurrentByteIndex, f"line {p.ErrorLineNumber}: {e}")
            )
        return self


def _rdfxml(file: str, text: str) -> _RdfXmlParser:
    """One RDF/XML document, parsed the one way :func:`read_rdfxml`
    (``.rows``) and :func:`scan_rdfxml_errors` (``.errors``) share."""
    return _RdfXmlParser(bnode_ns=f"g{_bnode_seed(file)}x").parse(text)


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """RDF/XML file(s) -> TRIPLES_RAW(s, p, o, o_datatype, o_lang) — same
    one-whole-file-per-task ``mapInPandas`` shape as the Turtle document
    reader (XML is not line-splittable; parallelism comes from the file
    count). IRIs are always full; plain literals carry the 'xsd:string'
    sentinel; bnode labels are per-file namespaced. Parse errors are
    fail-soft — surfaced by :func:`scan_rdfxml_errors`."""
    return _parse_stage(
        _text_files(spark, path, whole=True), lambda file, text: _rdfxml(file, text).rows
    )


def scan_rdfxml_errors(spark: SparkSession, path: str) -> DataFrame:
    """What the RDF/XML reader could not parse — one row per recorded
    error ('file@byte', message); report, don't crash the ingest."""
    return _parse_stage(
        _text_files(spark, path, whole=True),
        lambda file, text: [(f"{file}@{off}", msg) for off, msg in _rdfxml(file, text).errors],
        _ERROR_SCHEMA,
    )


#: document-mode inputs larger than this are warned about (ADVICE r3: a
#: huge single .ttl silently loads into one task's memory in wholetext
#: mode) and auto-chunked for parse parallelism
_TTL_DOC_WARN_BYTES = 256 * 1024 * 1024
#: chunk size the auto path uses
_TTL_AUTO_CHUNK_BYTES = 64 * 1024 * 1024

_COMPRESSION_SUFFIX_RE = re.compile(r"\.(gz|bz2|zst|snappy|lz4|deflate)$")
#: conservative decompressed-size multiplier for compressed text inputs —
#: the chunk guard bounds the DECOMPRESSED wholetext string, not the
#: on-disk bytes (review r4: a 100 MiB .ttl.bz2 is ~1 GiB of text)
_COMPRESSION_EXPANSION_GUESS = 8


def strip_compression_suffix(path: str) -> tuple[str, bool]:
    """-> (path without trailing codec suffix, had_suffix). Spark's text
    reader decompresses these transparently, so format dispatch must see
    the real extension underneath."""
    base = _COMPRESSION_SUFFIX_RE.sub("", path)
    return base, base != path


def _input_files_stats(spark: SparkSession, path: str) -> tuple[int, int, bool]:
    """(largest single file, file count, any compressed) matching ``path``
    via the Hadoop FileSystem API (any supported scheme; globs expanded
    with globStatus, matching what spark.read.text will actually scan —
    review r4: getFileStatus alone throws on globs and silently disabled
    the size guard). Compression is detected on the REAL file names, so a
    directory of .gz members is seen even though the path itself carries
    no suffix. (0, 0, path-suffix guess) on any listing failure — the
    guards are best-effort, never a crash, and callers treat count==0 as
    'stats unavailable'."""
    _, path_compressed = strip_compression_suffix(path)
    try:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        statuses = fs.globStatus(p)
        if statuses is None or len(statuses) == 0:
            statuses = [fs.getFileStatus(p)]
        biggest, count, compressed = 0, 0, False
        for st in statuses:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)
                while it.hasNext():
                    f = it.next()
                    biggest = max(biggest, int(f.getLen()))
                    count += 1
                    compressed = compressed or bool(
                        _COMPRESSION_SUFFIX_RE.search(f.getPath().getName())
                    )
            else:
                biggest = max(biggest, int(st.getLen()))
                count += 1
                compressed = compressed or bool(
                    _COMPRESSION_SUFFIX_RE.search(st.getPath().getName())
                )
        return biggest, count, compressed
    except Exception:
        return 0, 0, path_compressed


def _max_input_file_bytes(spark: SparkSession, path: str) -> int:
    return _input_files_stats(spark, path)[0]


def turtle_doc_chunk_bytes(spark: SparkSession, path: str) -> int | None:
    """Shared auto-chunk decision for document-mode Turtle (read_rdf and
    the data CLI use the same policy and the same warning): estimate the
    biggest input file's DECOMPRESSED size (compression detected on real
    member file names, so a directory of .ttl.bz2 counts) and, above the
    wholetext bound, warn and return the chunk size to parse in parallel
    blocks."""
    biggest, _count, compressed = _input_files_stats(spark, path)
    est = biggest * (_COMPRESSION_EXPANSION_GUESS if compressed else 1)
    if est > _TTL_DOC_WARN_BYTES:
        import warnings

        warnings.warn(
            f"a Turtle input file is ~{est >> 20} MiB decompressed; document "
            "mode holds each whole file in one splitter task (wholetext). "
            "Auto-chunking the parse at top-level statement boundaries; for "
            "statement-per-line dumps prefer fmt='turtle-lines' (fully "
            "line-splittable, no whole-file materialization).",
            stacklevel=3,
        )
        return _TTL_AUTO_CHUNK_BYTES
    return None


def warn_document_mode_size(
    spark: SparkSession, path: str, what: str, alternative: str
) -> bool:
    """Shared wholetext-size guard for document readers WITHOUT a chunker
    (JSON-LD — a JSON splitter does not exist the way the Turtle
    statement-boundary one does): estimate the biggest input file's
    decompressed size and warn above the bound, pointing at the
    line-splittable alternative (VERDICT r4 #2 — a 1 GiB .jsonld was one
    silent task). Returns True when the warning fired."""
    biggest, _count, compressed = _input_files_stats(spark, path)
    est = biggest * (_COMPRESSION_EXPANSION_GUESS if compressed else 1)
    if est > _TTL_DOC_WARN_BYTES:
        import warnings

        warnings.warn(
            f"a {what} input file is ~{est >> 20} MiB decompressed; document "
            "mode holds each whole file in one task (wholetext) with no "
            f"chunking. For scale prefer {alternative}.",
            stacklevel=3,
        )
        return True
    return False


def _should_respread(spark: SparkSession, path: str) -> bool:
    """Line-oriented reads over gzip/zstd inputs decompress ONE TASK PER
    FILE (unsplittable codecs) — a giant single .nt.gz would otherwise
    flow through the PARSE and every narrow downstream stage at
    parallelism 1 (review r4). True = warn and repartition the RAW LINES
    (before parsing, so the expensive parse itself spreads; review r4
    follow-up — repartitioning parsed rows left the parse serial).
    Compression is detected on real member file names (a directory of
    .gz files counts). False when the input already has at least
    defaultParallelism files (ample scan parallelism; a shuffle would be
    pure waste) or when stats are unavailable (count==0: fail closed —
    never add a spurious full shuffle)."""
    _biggest, n_files, compressed = _input_files_stats(spark, path)
    if not compressed or n_files == 0:
        return False
    if n_files >= spark.sparkContext.defaultParallelism:
        return False
    import warnings

    warnings.warn(
        "compressed text input uses an unsplittable codec: the scan runs one "
        "task per file; raw lines are repartitioned before parsing for "
        "parallelism. For scale, store uncompressed/splittable or many files.",
        stacklevel=3,
    )
    return True


def read_rdf(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """guess_format front door (src/utils.py:48-75 analog): dispatch on
    explicit ``fmt`` ('ntriples'|'turtle'|'turtle-lines'|'rdfxml'|'jsonld'|
    'jsonld-lines'|'parquet') or file extension
    (.nt/.ttl/.rdf/.owl/.xml/.jsonld), defaulting to
    a parquet triples table. 'turtle-lines' selects the line-splittable
    statement-per-line subset (the huge-single-file scale path).

    Document-mode Turtle inputs with a single file above
    ``_TTL_DOC_WARN_BYTES`` are AUTO-CHUNKED (parsed in parallel blocks,
    identical output) and a warning notes the wholetext memory profile —
    existing callers keep full-Turtle semantics instead of silently
    regressing to a one-task whole-file load (ADVICE r3)."""
    # Spark's text reader decompresses .gz/.bz2/... transparently, so the
    # compression suffix must not hide the real extension from dispatch
    # (real dumps ship as corpus.nt.gz / ontology.ttl.bz2)
    base, _compressed = strip_compression_suffix(path)
    fmt = fmt or (
        "ntriples" if base.endswith(".nt")
        else "turtle" if base.endswith(".ttl")
        else "rdfxml" if base.endswith((".rdf", ".owl", ".xml"))
        else "jsonld" if base.endswith(".jsonld")
        else "jsonld-lines" if base.endswith((".jsonl", ".ndjson"))
        else "parquet"
    )
    if fmt == "ntriples":
        return read_ntriples(spark, path)
    if fmt == "turtle":
        return read_turtle(spark, path, chunk_bytes=turtle_doc_chunk_bytes(spark, path))
    if fmt == "turtle-lines":
        return read_turtle(spark, path, multiline=False)
    if fmt == "rdfxml":
        return read_rdfxml(spark, path)
    if fmt == "jsonld":
        from .jsonld import read_jsonld

        return read_jsonld(spark, path)
    if fmt == "jsonld-lines":
        from .jsonld import read_jsonld_lines

        return read_jsonld_lines(spark, path)
    if fmt != "parquet":
        # an explicit-but-unknown fmt must not silently fall through to a
        # parquet read of RDF text (review r5: fmt='nt' — rdflib's name —
        # produced a baffling schema-inference failure)
        raise ValueError(
            f"unknown fmt {fmt!r}: expected one of ntriples|turtle|"
            "turtle-lines|rdfxml|jsonld|jsonld-lines|parquet"
        )
    return spark.read.parquet(path)


def scan_errors(spark: SparkSession, path: str) -> DataFrame:
    """Lines that are neither statements, comments nor blank — the engine's
    fail-soft counterpart of rdflib's parse error (src/utils.py:61-63
    skips unparseable files; we report per line)."""
    lines = spark.read.text(path)
    return lines.filter(
        ~F.col("value").rlike(_NT_RE)
        & ~F.col("value").rlike(r"^\s*(#.*)?$")
    )


def route_terminology(triples: DataFrame, prefix_map: dict[str, str]) -> DataFrame:
    """Stamp a ``source`` column by longest-prefix match of the subject URI
    — the which_graph routing (src/utils.py:148-153, operator C12). The
    column is the partition key for terminology pruning downstream."""
    expr = F.lit("main")
    for prefix, name in sorted(prefix_map.items(), key=lambda kv: len(kv[0])):
        # sorted ascending: longer prefixes applied later win (when-chain
        # built inside-out, last when() evaluated first)
        expr = F.when(F.col("s").startswith(prefix), F.lit(name)).otherwise(expr)
    return triples.withColumn("source", expr)


#: a local part STANDARD Turtle parsers accept unescaped (ASCII-
#: conservative: Java regex \w is ASCII; unicode locals simply stay
#: <bracketed>, still valid). Deliberately stricter than our own lenient
#: tokenizer (ADVICE r3): '/', '#' and bare '%' require escaping in
#: standard PN_LOCAL — '#' even starts a comment — so compacting them
#: would emit statements rdflib/standard parsers truncate or reject;
#: such IRIs stay <bracketed> instead.
#: first char must not be '-' (PN_LOCAL starts with PN_CHARS_U/digit/':',
#: review r5 — 'ex:-x' is unparseable by standard Turtle parsers)
_PN_LOCAL_OK = r"^((?!-)[\w-]+(\.[\w-]+)*)?$"


def _render_resource(col: Column, prefixes: dict[str, str] | None) -> Column:
    """Resource term rendering: blank nodes bare, prefixed names compacted
    by longest-IRI match when a prefix table is given, else <bracketed>.
    Prefix labels contain no ':', so compaction is collision-free; longer
    IRIs are applied LAST in the when-chain so they win. Compaction is
    GATED on the remaining local part being valid PN_LOCAL for our own
    tokenizer (review r3: 'e:page?id=1' was emitted for http://e/page?id=1
    — a statement no Turtle parser, ours included, can read back); IRIs
    whose suffix doesn't qualify stay <bracketed>, which is always valid."""
    expr = F.concat(F.lit("<"), col, F.lit(">"))
    if prefixes:
        for pfx, iri in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
            local = F.substring(col, len(iri) + 1, 2147483647)
            expr = F.when(
                col.startswith(iri) & local.rlike(_PN_LOCAL_OK),
                F.concat(F.lit(pfx + ":"), local),
            ).otherwise(expr)
    return F.when(col.startswith("_:"), col).otherwise(expr)


def _render_object(prefixes: dict[str, str] | None) -> Column:
    """Object rendering: resources via :func:`_render_resource`; literals
    quoted with the N-Triples escape set (\\\\ \\\" \\n \\r \\t), '@lang'
    when present, '^^<dt>' for non-plain datatypes (the 'xsd:string'
    sentinel and its expanded spelling render as plain literals)."""
    from ..operators.emit import escape_literal

    esc = escape_literal(F.col("o"))

    dt = F.col("o_datatype")
    plain = dt.isNull() | (dt == F.lit(_PLAIN)) | (dt == F.lit(XSD_NS + "string"))
    lit = F.concat(
        F.lit('"'), esc, F.lit('"'),
        F.when(
            F.col("o_lang").isNotNull(), F.concat(F.lit("@"), F.col("o_lang"))
        ).when(
            ~plain, F.concat(F.lit("^^"), _render_resource(dt, prefixes))
        ).otherwise(F.lit("")),
    )
    return F.when(dt.isNull(), _render_resource(F.col("o"), prefixes)).otherwise(lit)


def triples_to_turtle(
    triples: DataFrame,
    prefixes: dict[str, str] | None = None,
    _cache: list | None = None,
) -> DataFrame:
    """TRIPLES(s, p, o, o_datatype, o_lang) -> one Turtle statement line per
    subject: predicates joined with ' ;', objects with ', ', 'a' for
    rdf:type — the compact rdflib-serialization shape (the reference
    serializes its graphs as Turtle via rdflib, src/utils.py GraphParser
    family). All grouping/rendering is JVM column expressions: two
    map-side-combinable aggregations (objects per (s,p), then predicate
    groups per s), deterministic order via sort_array — the same output at
    any parallelism. Prefix COMPACTION happens here; the @prefix header is
    prepended per output file by :func:`write_turtle`. Statements for
    subjects CONNECTED THROUGH BLANK NODES are co-partitioned (same
    part-file — labels are document-scoped on re-read, review r4).

    Caching: the colocation probe forces a persist of the normalized
    triples. ``write_turtle`` unpersists it after the write (ADVICE r4);
    direct callers receive the handle via ``_cache`` (a list the persisted
    frame is appended to) or must accept a session-lifetime cached copy."""
    # persist: the colocation branch probes this frame before the write
    # job scans the rendered lines — avoids recomputing the upstream plan
    triples = normalize_triples_schema(triples).persist()
    if _cache is not None:
        _cache.append(triples)
    rdf_type = F.col("p").isin("rdf:type", RDF_NS + "type")
    rendered = triples.select(
        F.col("s"),
        _render_resource(F.col("s"), prefixes).alias("s_txt"),
        F.when(rdf_type, F.lit("a")).otherwise(
            _render_resource(F.col("p"), prefixes)
        ).alias("p_txt"),
        _render_object(prefixes).alias("o_txt"),
    )
    by_pred = rendered.groupBy("s", "s_txt", "p_txt").agg(
        F.array_join(F.sort_array(F.collect_set("o_txt")), ", ").alias("objs")
    )
    by_subj = by_pred.groupBy("s", "s_txt").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p_txt", "objs"))),
                lambda g: F.concat(g["p_txt"], F.lit(" "), g["objs"]),
            ),
            " ;\n    ",
        ).alias("body")
    )
    lines = by_subj.select(
        F.col("s"),
        F.concat(F.col("s_txt"), F.lit(" "), F.col("body"), F.lit(" .")).alias("value"),
    )
    bn_edges = triples.filter(
        F.col("o_datatype").isNull() & F.col("o").startswith("_:")
    ).select(F.col("s").alias("src_id"), F.col("o").alias("dst_id"))
    return _colocate_by_bnode_cluster(lines, bn_edges).drop("s")


def write_turtle(
    triples: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Turtle sink. Without ``prefixes`` the statements carry full
    <bracketed> IRIs and the write is pure ``df.write.text`` (no Python).
    With ``prefixes`` every output part-file gets its own ``@prefix``
    header (each file must be self-contained Turtle), prepended by a thin
    ``mapInPandas`` pass over the already-rendered statement lines."""
    cached: list = []
    lines = triples_to_turtle(triples, prefixes, _cache=cached)
    try:
        if not prefixes:
            lines.write.mode(mode).text(path)
            return
        import pandas as pd

        header = [f"@prefix {p}: <{iri}> ." for p, iri in sorted(prefixes.items())]

        def add_header(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            first = True
            for pdf in batches:
                if first and len(pdf):
                    yield pd.DataFrame({"value": header})
                    first = False
                yield pdf

        lines.mapInPandas(add_header, schema="value string").write.mode(mode).text(path)
    finally:
        # the persist only had to live until the write action (ADVICE r4:
        # multi-format exports were leaking one cached copy per sink call)
        for df in cached:
            df.unpersist()


_NCNAME_RE = re.compile(r"^[A-Za-z_][\w.-]*$")

#: C0 controls XML 1.0 cannot carry at all (even as character references)
_XML_ILLEGAL = {c: 0xFFFD for c in range(0x20) if c not in (0x09, 0x0A, 0x0D)}


def normalize_triples_schema(triples: DataFrame) -> DataFrame:
    """Normalize the KG emission schema to TRIPLES_RAW names and backfill
    o_lang — idempotent; shared by every document sink."""
    if "subj" in triples.columns:
        triples = triples.withColumnsRenamed(
            {"subj": "s", "pred": "p", "obj": "o", "obj_datatype": "o_datatype",
             # review r5: obj_lang was left dangling, silently dropping
             # @lang tags from the document sinks that write_ntriples kept
             "obj_lang": "o_lang"}
        )
    if "o_lang" not in triples.columns:
        triples = triples.withColumn("o_lang", F.lit(None).cast("string"))
    return triples


def grouped_by_subject(
    triples: DataFrame, colocate_bnodes: bool = True, _cache: list | None = None
) -> DataFrame:
    """Shared document-sink preamble: normalize (idempotent), aggregate one
    row per subject with a deterministic sorted (p, o, o_datatype, o_lang)
    list — a JVM ``collect_list`` (map-side combinable, subject-sized
    groups) — and, with ``colocate_bnodes``, repartition so that subjects
    CONNECTED THROUGH BLANK NODES land in the same output partition
    (= the same part-file under ``df.write``).

    Why (review r4, reproduced): every part-file is its own RDF document,
    and the readers correctly scope ``_:`` labels per file — so a bnode
    link whose two endpoints are written into different part-files comes
    back SEVERED on re-read. Connected components over just the
    bnode-link edges (usually a small fraction of the graph; sub-200k
    edge sets resolve driver-side inside connected_components) gives each
    bnode cluster one partition key; bnode-free subjects hash freely.
    Used by :func:`write_rdfxml`, :func:`triples_to_turtle` and
    jsonld.write_jsonld — those sinks unpersist the cached intermediate
    after their write via ``_cache`` (ADVICE r4); direct callers receive
    the handle the same way or accept a session-lifetime cached copy."""
    triples = normalize_triples_schema(triples)
    # persist: the colocation branch probes this frame (emptiness + CC
    # edges) before the caller's write job scans it — without caching the
    # whole upstream plan would recompute 2-3x per sink (review r4)
    grouped = triples.groupBy("s").agg(
        F.sort_array(F.collect_list(F.struct("p", "o", "o_datatype", "o_lang"))).alias("po")
    ).persist()
    if _cache is not None:
        _cache.append(grouped)
    if not colocate_bnodes:
        return grouped
    t = F.explode("po").alias("t")
    bn_edges = (
        grouped.select("s", t)
        .filter(F.col("t.o_datatype").isNull() & F.col("t.o").startswith("_:"))
        .select(F.col("s").alias("src_id"), F.col("t.o").alias("dst_id"))
    )
    return _colocate_by_bnode_cluster(grouped, bn_edges)


def _colocate_by_bnode_cluster(
    frame: DataFrame, bn_edges: DataFrame, key_col: str = "s"
) -> DataFrame:
    """Repartition ``frame`` (keyed by its subject column ``key_col``) so
    every group of subjects connected through blank-node links
    (``bn_edges``: src_id, dst_id) shares one partition — one part-file
    under ``df.write``. No-op when there are no bnode links."""
    if bn_edges.isEmpty():
        return frame
    from ..operators.canonicalize import connected_components

    comp = connected_components(bn_edges).withColumnsRenamed(
        {"id": key_col, "component": "__filekey"}
    )
    return (
        frame.join(comp, key_col, "left")
        .withColumn("__filekey", F.coalesce(F.col("__filekey"), F.col(key_col)))
        .repartition(F.col("__filekey"))
        .drop("__filekey")
    )


#: datatypes rendered as PLAIN literals by the document sinks
PLAIN_DATATYPES = frozenset({None, _PLAIN, XSD_NS + "string"})


def _split_pred_iri(iri: str) -> tuple[str, str]:
    """Predicate IRI -> (namespace, NCName local) at the last '#' or '/'.
    RDF/XML property ELEMENT names must be QNames — an IRI whose tail is
    not a valid NCName cannot be serialized as RDF/XML at all."""
    cut = max(iri.rfind("#"), iri.rfind("/"))
    ns, local = iri[: cut + 1], iri[cut + 1 :]
    if not ns or not _NCNAME_RE.match(local or ""):
        raise ValueError(
            f"predicate {iri!r} cannot be split into (namespace, NCName local) "
            "for RDF/XML serialization; use write_ntriples/write_turtle"
        )
    return ns, local


def render_description(s: str, po: list[tuple], ns_map: dict[str, str]) -> str:
    """One subject + its (p, o, o_datatype, o_lang) rows -> one
    ``rdf:Description`` element (pure function — the write_rdfxml render
    body, extracted so the write->read contract is property-testable
    without Spark). ``ns_map``: namespace IRI -> xmlns prefix for every
    non-rdf predicate namespace (see write_rdfxml)."""
    from xml.sax.saxutils import escape, quoteattr

    s = s.translate(_XML_ILLEGAL)
    sub = (
        f"rdf:nodeID={quoteattr(s[2:])}" if s.startswith("_:")
        else f"rdf:about={quoteattr(s)}"
    )
    lines = [f"  <rdf:Description {sub}>"]
    for p, o, dt, lang in po:
        full = RDF_NS + "type" if p in ("rdf:type", "a") else p
        ns, local = _split_pred_iri(full)
        tag = f"rdf:{local}" if ns == RDF_NS else f"{ns_map[ns]}:{local}"
        o = o.translate(_XML_ILLEGAL)  # XML 1.0 cannot carry C0
        dt = dt.translate(_XML_ILLEGAL) if dt is not None else None
        lang = lang.translate(_XML_ILLEGAL) if lang is not None else None
        if dt is None:  # resource object (reader convention)
            ref = (
                f"rdf:nodeID={quoteattr(o[2:])}" if o.startswith("_:")
                else f"rdf:resource={quoteattr(o)}"
            )
            lines.append(f"    <{tag} {ref}/>")
        elif dt in PLAIN_DATATYPES:
            la = f" xml:lang={quoteattr(lang)}" if lang else ""
            lines.append(f"    <{tag}{la}>{escape(o)}</{tag}>")
        else:
            lines.append(
                f"    <{tag} rdf:datatype={quoteattr(dt)}>{escape(o)}</{tag}>"
            )
    lines.append("  </rdf:Description>")
    return "\n".join(lines)


def write_rdfxml(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """TRIPLES -> RDF/XML text files: one self-contained ``<rdf:RDF>``
    document per part-file, one ``rdf:Description`` per subject.

    The predicate-namespace table is collected driver-side (predicates are
    schema-sized — the same small-side reasoning as the Turtle prefix
    header) and becomes the root ``xmlns`` declarations; invalid NCName
    locals fail fast with a pointer to the scale sinks. Grouping is a
    JVM ``collect_list`` per subject (map-side combinable, subject-sized
    groups); rendering + escaping is a thin mapInPandas over one row per
    subject. N-Triples/parquet remain the 100 TB sinks — RDF/XML is the
    interchange format the reference's rdflib front door expects.

    Format caveats (inherent to XML 1.0, review r4): C0 control
    characters other than tab/LF/CR cannot be carried at all — they are
    substituted with U+FFFD so one bad literal cannot invalidate a whole
    part-file — and '\r\n' in literals re-reads as '\n' (XML line-end
    normalization). Literals needing byte-exact round-trips belong in the
    N-Triples/Turtle sinks, which escape control characters."""
    triples = normalize_triples_schema(triples)  # once; grouped_by_subject is idempotent
    cached: list = []
    grouped = grouped_by_subject(triples, _cache=cached)
    try:
        _write_rdfxml_grouped(grouped, path, mode)
    finally:
        for df in cached:
            df.unpersist()


def _write_rdfxml_grouped(grouped: DataFrame, path: str, mode: str) -> None:
    import pandas as pd
    from xml.sax.saxutils import quoteattr

    # predicate-namespace table from the PERSISTED grouped frame, so the
    # collect hits the cache instead of re-running the whole upstream
    # plan a second time (review r5)
    preds = [
        r["p"]
        for r in grouped.select(F.explode("po").alias("t"))
        .select(F.col("t.p").alias("p"))
        .distinct()
        .collect()
    ]
    ns_map: dict[str, str] = {}
    for iri in sorted(preds):
        full = RDF_NS + "type" if iri in ("rdf:type", "a") else iri
        ns, _local = _split_pred_iri(full)
        if ns != RDF_NS:
            ns_map.setdefault(ns, f"ns{len(ns_map) + 1}")
    xmlns = "".join(
        f'\n         xmlns:{p}={quoteattr(ns)}' for ns, p in sorted(ns_map.items(), key=lambda kv: kv[1])
    )
    header = f'<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf={quoteattr(RDF_NS)}{xmlns}>'

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        emitted_header = False
        for pdf in batches:
            out: list[str] = []
            if not emitted_header and len(pdf):
                out.append(header)
                emitted_header = True
            # every attribute/text slot gets the C0 substitution inside
            # render_description, not just the object — a control char in
            # a subject IRI, bnode label, datatype, or lang tag would
            # invalidate the whole part-file just the same (review r4)
            for s, po in zip(pdf["s"], pdf["po"]):
                out.append(render_description(
                    s,
                    [(r["p"], r["o"], r["o_datatype"], r["o_lang"]) for r in po],
                    ns_map,
                ))
            yield pd.DataFrame({"value": out})
        # every part-file must close its document; an empty partition
        # yields a bare (valid) empty rdf:RDF element
        yield pd.DataFrame({"value": [header] if not emitted_header else []})
        yield pd.DataFrame({"value": ["</rdf:RDF>"]})

    grouped.mapInPandas(render, schema="value string").write.mode(mode).text(path)


def write_ntriples(
    triples: DataFrame,
    path: str,
    mode: str = "overwrite",
    colocate_bnodes: bool = True,
) -> None:
    """TRIPLES -> N-Triples text files (the rdflib serialization analog).
    Uses operators/emit.triples_to_ntriples for escaping.

    N-Triples scopes ``_:`` labels per document (= per part-file on
    re-read, matching the per-file remap in :func:`read_ntriples`), so by
    default rows connected through blank nodes are co-located into one
    part-file — the same severed-link guard as the document sinks.
    Pipelines that mint IRIs only (the KG emission path has no bnodes)
    can pass ``colocate_bnodes=False`` to skip the emptiness probe.

    Accepts both the KG emission schema (subj/pred/obj/obj_datatype) and
    TRIPLES_RAW (s/p/o/o_datatype/o_lang) — the reader-side schema is
    normalized to the emission names the renderer uses."""
    from ..operators.emit import triples_to_ntriples

    ren = {"s": "subj", "p": "pred", "o": "obj",
           "o_datatype": "obj_datatype", "o_lang": "obj_lang"}
    triples = triples.withColumnsRenamed(
        {k: v for k, v in ren.items()
         if k in triples.columns and v not in triples.columns}
    )
    if not colocate_bnodes:
        triples_to_ntriples(triples).write.mode(mode).text(path)
        return
    # persist around the probe+write: the colocation branch runs up to
    # three actions over the upstream plan (emptiness probe, CC edge
    # collect, the write itself) — same caching discipline as the
    # document sinks' grouped_by_subject (review r5)
    triples = triples.persist()
    try:
        bn_edges = triples.filter(
            F.col("obj_datatype").isNull() & F.col("obj").startswith("_:")
        ).select(F.col("subj").alias("src_id"), F.col("obj").alias("dst_id"))
        located = _colocate_by_bnode_cluster(triples, bn_edges, key_col="subj")
        triples_to_ntriples(located).write.mode(mode).text(path)
    finally:
        triples.unpersist()
