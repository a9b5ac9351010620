"""Fixed StructType schemas for every table the engine touches.

The reference drives schemas from JSON config "COLUMNS" blocks
(local_config_template/i2b2_rdf_config_spo.json:101-280); we pin them as
typed StructTypes so Catalyst can prune/push down and Arrow batches are
stable. See SURVEY.md §1 and FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- sources

#: Primary source (BASELINE.json input_hint): Common-Crawl-style web pages.
#: Analog of the reference's instance-data RDF graphs (src/main_data.py:9-11).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

#: Class/property hierarchy — analog of the SPHN ontology graph navigated by
#: src/rdfwrappers.py:161-234 (subclass closure, property/range expansion).
ONTOLOGY = T.StructType(
    [
        T.StructField("class_uri", T.StringType(), False),
        T.StructField("parent_uri", T.StringType(), True),  # null for roots
        T.StructField("kind", T.StringType(), False),  # class|property|datatype
        T.StructField("label", T.StringType(), True),
        T.StructField("datatype", T.StringType(), True),  # for datatype leaves
        T.StructField("terminology", T.StringType(), True),  # SNOMED-ish routing
        T.StructField("blacklisted", T.BooleanType(), False),
    ]
)

#: Surface-form dictionary — analog of the terminology side graphs
#: (src/utils.py:67-71) routed by URI prefix (src/utils.py:148-153).
GAZETTEER = T.StructType(
    [
        T.StructField("surface", T.StringType(), False),
        T.StructField("type_uri", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ]
)

#: Valueset membership (src/rdfwrappers.py:452-467).
VALUESET = T.StructType(
    [
        T.StructField("class_uri", T.StringType(), False),
        T.StructField("member_uri", T.StringType(), False),
    ]
)

#: Alias graph for connected-components canonicalization.
ALIAS_EDGES = T.StructType(
    [
        T.StructField("src_id", T.StringType(), False),
        T.StructField("dst_id", T.StringType(), False),
    ]
)

#: connected_components output: every alias-graph node and the
#: lexicographically smallest member of its component.
COMPONENT_MAPPING = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("component", T.StringType(), True),
    ]
)

# ------------------------------------------------------------ intermediate

#: Detected mentions (output of operators/mentions.py).
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("begin_pos", T.IntegerType(), False),
        T.StructField("end_pos", T.IntegerType(), False),
        T.StructField("n_occurrences", T.IntegerType(), False),
    ]
)

#: Generic triples DataFrame — the engine's RDF-graph representation
#: (replaces rdflib.Graph, src/utils.py:49).
TRIPLES_RAW = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o", T.StringType(), False),
        T.StructField("o_datatype", T.StringType(), True),  # null => IRI object
        T.StructField("o_lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- outputs

#: Emitted KG triples — analog of OBSERVATION_FACT.csv
#: (local_config_template/i2b2_rdf_config_spo.json COLUMNS.OBSERVATION_FACT).
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_datatype", T.StringType(), True),
        T.StructField("source_url", T.StringType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

#: Ontology closure output — analog of METADATA.csv rows
#: (path/level/basecode built by src/i2b2wrappers.py:219-288).
# nullability matches the close_ontology distributed plan's ACTUAL output
# (code/stop_expansion flow through joins and are nullable there — review
# r6 reconciled this contract with the plan; the driver-BFS path reuses it
# verbatim so both paths are schema-identical, differential-tested in
# tests/test_closure.py)
ONTOLOGY_CLOSED = T.StructType(
    [
        T.StructField("class_uri", T.StringType(), False),
        T.StructField("parent_uri", T.StringType(), True),
        T.StructField("level", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("code", T.StringType(), True),
        T.StructField("parent_code", T.StringType(), True),
        T.StructField("kind", T.StringType(), False),
        T.StructField("terminology", T.StringType(), True),
        T.StructField("stop_expansion", T.BooleanType(), True),
    ]
)

#: Multimodal assets: opaque binary + typed metadata (training-data ops).
ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

# ------------------------------------------------------- star-schema dims

#: PROVIDER_DIMENSION (src/starschema.py:96-105): path + id per provider.
PROVIDER_DIMENSION = T.StructType(
    [
        T.StructField("provider_path", T.StringType(), False),
        T.StructField("provider_id", T.StringType(), False),
    ]
)

#: Header-only dimension/mapping tables (init_* in src/starschema.py:36-62):
#: written empty at pipeline init, filled by postprod reindex (E2/C8).
VISIT_DIMENSION = T.StructType(
    [
        T.StructField("encounter_num", T.StringType(), True),
        T.StructField("patient_num", T.StringType(), True),
        T.StructField("start_date", T.StringType(), True),
        T.StructField("end_date", T.StringType(), True),
    ]
)

PATIENT_DIMENSION = T.StructType(
    [
        T.StructField("patient_num", T.StringType(), True),
        T.StructField("birth_date", T.StringType(), True),
        T.StructField("sex_cd", T.StringType(), True),
    ]
)

ENCOUNTER_MAPPING = T.StructType(
    [
        T.StructField("encounter_ide", T.StringType(), True),
        T.StructField("encounter_num", T.LongType(), True),
    ]
)

PATIENT_MAPPING = T.StructType(
    [
        T.StructField("patient_ide", T.StringType(), True),
        T.StructField("patient_num", T.LongType(), True),
    ]
)


# ------------------------------------------------------------ driver-built


def local_frame(spark, rows, schema: T.StructType):
    """DataFrame over driver-built ``rows`` (tuples in ``schema`` field
    order), handed to Spark as one Arrow table. It plans as a
    LocalRelation: no job runs and no Python worker starts.
    ``createDataFrame(<list>)`` instead pickles the rows through a
    PythonRDD, a job on a pool of plain Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
