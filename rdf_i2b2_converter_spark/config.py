"""Declarative engine configuration.

Analog of the reference's three JSON configs loaded into module globals
(src/utils.py:19-41; local_config_template/{graph,data,i2b2_rdf}_config_spo.json):
blacklists, context-column mappings with overwrite precedence, and the
xsd-datatype -> value-column dispatch map. Here they are plain Python
constants closed over by the driver; small lookup tables become broadcast
DataFrames at plan-build time.
"""

from __future__ import annotations

# URIs / prefixes -----------------------------------------------------------

RDF_TYPE = "rdf:type"
RDFS_LABEL = "rdfs:label"
RDFS_SUBCLASS_OF = "rdfs:subClassOf"

KG = "kg:"  # engine namespace for minted entities and predicates
PRED_TYPE = RDF_TYPE
PRED_MENTIONED_IN = "kg:mentionedIn"
PRED_SURFACE_FORM = "kg:surfaceForm"
PRED_IN_LANG = "kg:inLang"
PRED_EXTRACTED_AT = "kg:extractedAt"
PRED_LINK_SCORE = "kg:linkScore"
PRED_SAME_AS = "owl:sameAs"

XSD_STRING = "xsd:string"
XSD_DOUBLE = "xsd:double"
XSD_INTEGER = "xsd:integer"
XSD_DATETIME = "xsd:dateTime"
XSD_GYEAR = "xsd:gYear"

# Filters -------------------------------------------------------------------

#: Resources never allowed downstream — analog of graph_config_spo.json
#: "BLACKLIST" applied in src/rdfwrappers.py:6-9 and src/data_loader.py:9-13.
BLACKLIST: tuple[str, ...] = (
    "kg:Deprecated",
    "kg:Blacklisted",
)

#: Predicates/object-types skipped during tree walk (data_config "TO_IGNORE").
TO_IGNORE: tuple[str, ...] = (
    "kg:internalDebug",
)

# Value dispatch -------------------------------------------------------------

#: xsd datatype -> (value column, valtype flag, optional transform), the
#: analog of data_config_spo.json COLUMNS_MAPPING["VALUE"] (lines 35-73)
#: dispatched in src/data_loader.py:149-157. In the Spark engine this becomes
#: a when()-chain built by functions/values.py.
VALUE_DISPATCH: dict[str, dict] = {
    XSD_INTEGER: {"col": "nval_num", "valtype": "N", "tval": "E"},
    XSD_DOUBLE: {"col": "nval_num", "valtype": "N", "tval": "E"},
    "xsd:float": {"col": "nval_num", "valtype": "N", "tval": "E"},
    XSD_STRING: {"col": "tval_char", "valtype": "T", "tval": None},
    XSD_GYEAR: {"col": "nval_num", "valtype": "N", "tval": "E", "transform": "year"},
    XSD_DATETIME: {"col": "tval_char", "valtype": "T", "tval": None},
}

# Context -------------------------------------------------------------------

#: Context fields inherited down the instance tree with overwrite policy —
#: analog of COLUMNS_MAPPING["CONTEXT"] consumed by ContextFactory
#: (src/data_loader.py:296-392). ``overwrite=False`` == first-wins (an outer
#: value survives); ``mandatory`` rows gate emission (src/data_loader.py:305-318).
CONTEXT_FIELDS: dict[str, dict] = {
    "source_url": {"overwrite": False, "mandatory": True},
    "lang": {"overwrite": True, "mandatory": False},
    "crawl_ts": {"overwrite": False, "mandatory": False},
}

# Hashing -------------------------------------------------------------------

#: Join-key width of the reference's truncated-sha256 basecode
#: (i2b2_rdf_config_spo.json MAX_BASECODE_LENGTH; src/utils.py:112-127).
MAX_BASECODE_LENGTH = 50

#: Default hash for minted URIs: xxhash64 (pure column expr, 8-byte key —
#: far cheaper to shuffle at 10^12 rows than a 50-char hex string). ``md5``
#: is offered for oracle-parity paths (DuckDB lacks xxhash64).
DEFAULT_HASH = "xxhash64"

# Mention detection -----------------------------------------------------------

#: Tokenization contract shared by the extractor, the gazetteer matcher and
#: the pure-Python test oracle: lowercase, split on non-alphanumeric runs.
TOKEN_SPLIT_REGEX = r"[^a-z0-9]+"

# Scale knobs ----------------------------------------------------------------

#: Target on-disk partition size for sinks (100 TB / ~512 MB ≈ 200k files).
TARGET_PARTITION_BYTES = 512 * 1024 * 1024

#: Salt buckets for hot-key (head-entity) aggregations.
DEFAULT_SALT_BUCKETS = 16

#: Row cap of the driver paths (``operators/fixpoint.small_side``): inputs
#: and results under it are built on the driver, larger ones distributed.
DRIVER_THRESHOLD = 100_000
