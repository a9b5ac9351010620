"""Deterministic input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: it writes its inputs
under a directory and returns the counts the output checks compare against.
Nothing here starts Spark — inputs are written with pyarrow or as plain
Turtle text, so generating them costs no jobs and the same seed gives
byte-identical files on any machine.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed file counts, so file layout (and scan parallelism) never depends on
#: the machine the inputs are generated on.
N_PAGE_FILES = 8
N_TTL_FILES = 4

_PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
_GAZETTEER_SCHEMA = pa.schema(
    [
        pa.field("surface", pa.string(), nullable=False),
        pa.field("type_uri", pa.string(), nullable=False),
        pa.field("canonical_id", pa.string(), nullable=False),
        pa.field("weight", pa.float64(), nullable=False),
    ]
)
_ALIAS_SCHEMA = pa.schema(
    [pa.field("src_id", pa.string(), nullable=False), pa.field("dst_id", pa.string(), nullable=False)]
)
_ONTOLOGY_SCHEMA = pa.schema(
    [
        pa.field("class_uri", pa.string(), nullable=False),
        pa.field("parent_uri", pa.string()),
        pa.field("kind", pa.string(), nullable=False),
        pa.field("label", pa.string()),
        pa.field("datatype", pa.string()),
        pa.field("terminology", pa.string()),
        pa.field("blacklisted", pa.bool_(), nullable=False),
    ]
)
_PAIRS_SCHEMA = pa.schema(
    [pa.field("url", pa.string(), nullable=False), pa.field("surface", pa.string(), nullable=False)]
)


def _write_rows(path: str, rows: list[tuple], schema: pa.Schema) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table({f.name: pa.array(c, type=f.type) for f, c in zip(schema, cols)}, schema=schema)
    pq.write_table(table, path)


# ---------------------------------------------------------------- crawl_kg


def crawl_kg(out_dir: str, seed: int, n_pages: int) -> dict:
    """CC-style pages for ids ``[seed * 10**7, seed * 10**7 + n_pages)``,
    built by ``synthetic.gen_doc`` (the corpus generator the product's tests
    use), plus its gazetteer, alias graph and 17-row ontology.

    Even ids carry only html, so ``extract_text`` runs inside the plan; odd
    ids carry html and text, so ``verify_extraction`` has rows to compare.
    ``oracle_pairs.parquet`` holds the distinct (url, surface) pairs that
    ``gen_doc`` says the pipeline must find; it is read by Spark during
    set-up and never held by the driver during timed runs."""
    from rdf_i2b2_converter_spark.sources import synthetic as syn

    os.makedirs(os.path.join(out_dir, "pages"))
    base = seed * 10**7
    per_file = -(-n_pages // N_PAGE_FILES)
    pairs: list[tuple[str, str]] = []
    for f in range(N_PAGE_FILES):
        rows = []
        for i in range(base + f * per_file, base + min(n_pages, (f + 1) * per_file)):
            d = syn.gen_doc(i)
            text = d["text"] if i % 2 else None
            rows.append((d["url"], d["warc_ts"], d["html"], text, d["lang"]))
            pairs.extend((d["url"], s) for s in sorted(set(d["mentions"])))
        _write_rows(os.path.join(out_dir, "pages", f"part-{f:05d}.parquet"), rows, _PAGES_SCHEMA)
    _write_rows(os.path.join(out_dir, "oracle_pairs.parquet"), pairs, _PAIRS_SCHEMA)
    _write_rows(os.path.join(out_dir, "gazetteer.parquet"), syn.gen_gazetteer_rows(), _GAZETTEER_SCHEMA)
    _write_rows(os.path.join(out_dir, "ontology.parquet"), syn.gen_ontology_rows(), _ONTOLOGY_SCHEMA)
    n = 50  # gen_alias_edges' default entity count, matching gen_gazetteer_rows
    alias = [(f"ent{e}", f"ent{e + 1}") for e in range(0, n - 1, 2)]
    alias += [(f"ent{e}", f"ent{e + 3}") for e in range(0, n - 3, 5)]
    _write_rows(os.path.join(out_dir, "alias_edges.parquet"), alias, _ALIAS_SCHEMA)
    return {"records": n_pages}


# --------------------------------------------------------------- rdf_facts

#: Entry classes of the instance graph (SPHN-style concepts).
ENTRY_CLASSES = ("kg:Diagnosis", "kg:LabResult", "kg:DrugAdministration")
_TTL_HEADER = "@prefix kg: <kg:> .\n@prefix snomed: <snomed:> .\n\n"


def rdf_facts(out_dir: str, seed: int, n_instances: int) -> dict:
    """An SPHN-style patient instance graph split over several Turtle files.

    Each instance is typed by one of :data:`ENTRY_CLASSES` and links to a
    shared patient (a ``kg:SubjectPseudoIdentifier`` — the mandatory context),
    usually an encounter, a timestamp, 1-2 SNOMED-typed codes, 0-3 nested
    measurements (value + ``kg:Unit`` context) and 0-2 free-text notes. One
    instance in twenty has no patient and must be gated out.

    ``expected_observations`` follows ``extract_observations``' rules: one
    concept row per kept instance plus one row per path end — each code,
    each measurement value and each note; patient, encounter, timestamp and
    unit are context and emit nothing."""
    rng = random.Random(f"rdf_facts:{seed}")
    n_patients = max(1, n_instances // 4)
    n_encounters = max(1, n_instances // 2)
    files: list[list[str]] = [[] for _ in range(N_TTL_FILES)]
    expected = 0
    patients: set[int] = set()
    encounters: set[int] = set()
    units = ("mmol/L", "mg/dL", "g/L", "U/L")
    for i in range(n_instances):
        cls = ENTRY_CLASSES[rng.randrange(len(ENTRY_CLASSES))]
        inst = f"kg:inst{i}"
        lines = [f"{inst} a {cls} ."]
        has_patient = rng.random() >= 0.05
        if has_patient:
            p = rng.randrange(n_patients)
            patients.add(p)
            lines.append(f"{inst} kg:hasSubject kg:subj{p} .")
        if rng.random() < 0.9:
            e = rng.randrange(n_encounters)
            encounters.add(e)
            lines.append(f"{inst} kg:hasEncounter kg:enc{e} .")
        day = 1 + rng.randrange(28)
        lines.append(f'{inst} kg:recordedAt "2023-05-{day:02d}T10:00:00"^^xsd:dateTime .')
        n_codes = 1 + rng.randrange(2)
        for c in range(n_codes):
            code = f"kg:code{i}_{c}"
            lines.append(f"{inst} kg:hasCode {code} .")
            lines.append(f"{code} a snomed:C{rng.randrange(500)} .")
        n_meas = rng.randrange(4)
        for m in range(n_meas):
            meas = f"kg:meas{i}_{m}"
            value = rng.randrange(1, 10**6) / 100
            lines.append(f"{inst} kg:hasMeasurement {meas} .")
            lines.append(f'{meas} a kg:Measurement ; kg:hasValue "{value}"^^xsd:double ;')
            lines.append(f"    kg:hasUnit kg:unit{rng.randrange(len(units))} .")
        n_notes = rng.randrange(3)
        for k in range(n_notes):
            lines.append(f'{inst} kg:hasNote "note {k} of instance {i}" .')
        if has_patient:
            expected += 1 + n_codes + n_meas + n_notes
        files[i % N_TTL_FILES].append("\n".join(lines))

    # shared context nodes: only those some instance references, so every
    # patient in the graph reaches the output
    context = [
        f'kg:subj{p} a kg:SubjectPseudoIdentifier ; kg:hasIdentifier "P{seed}-{p}" .'
        for p in sorted(patients)
    ]
    context += [
        f'kg:enc{e} a kg:Encounter ; kg:hasIdentifier "E{seed}-{e}" .' for e in sorted(encounters)
    ]
    context += [
        f'kg:unit{u} a kg:Unit ; kg:hasCode "{units[u]}" .' for u in range(len(units))
    ]
    os.makedirs(out_dir)
    for f, blocks in enumerate(files):
        with open(os.path.join(out_dir, f"instances-{f:02d}.ttl"), "w", encoding="utf-8") as fh:
            fh.write(_TTL_HEADER + "\n".join(blocks) + "\n")
    with open(os.path.join(out_dir, "context.ttl"), "w", encoding="utf-8") as fh:
        fh.write(_TTL_HEADER + "\n".join(context) + "\n")
    return {
        "records": n_instances,
        "expected_observations": expected,
        "expected_patients": len(patients),
    }


# ---------------------------------------------------------------- taxonomy


def taxonomy(out_path: str, seed: int, n_classes: int, depth: int) -> dict:
    """A type taxonomy of ``n_classes`` classes over ``depth`` levels.

    Four roots; every other level holds an equal share of the classes, each
    with a parent on the level above. 5% of the classes below level 1 get a
    second parent row, and 10% of all rows are datatype-property leaves
    under a random class. Local names are unique, so the closure's
    path-collision check never fires.

    A class appears in the closure once per root-to-class path, and a
    property once per path of its domain class: ``expected_metadata`` is
    that fan-out, counted by dynamic programming over the levels."""
    rng = random.Random(f"taxonomy:{seed}")
    n_roots = 4
    per_level = (n_classes - n_roots) // (depth - 1)
    levels: list[list[str]] = [[f"kg:R{r}" for r in range(n_roots)]]
    rows: list[tuple] = [(c, None, "class", c[3:], None, None, False) for c in levels[0]]
    paths: dict[str, int] = {c: 1 for c in levels[0]}
    for lvl in range(1, depth):
        above = levels[-1]
        here = [f"kg:C{lvl}_{k}" for k in range(per_level)]
        for c in here:
            parents = [above[rng.randrange(len(above))]]
            if lvl >= 2 and rng.random() < 0.05:
                second = above[rng.randrange(len(above))]
                if second != parents[0]:
                    parents.append(second)
            for p in parents:
                rows.append((c, p, "class", c[3:], None, None, False))
            paths[c] = sum(paths[p] for p in parents)
        levels.append(here)
    n_class_rows = len(rows)
    classes = [c for lvl in levels for c in lvl]
    n_props = n_class_rows // 9  # a tenth of all rows
    datatypes = ("xsd:string", "xsd:integer", "xsd:double", "xsd:dateTime")
    property_paths = 0
    for k in range(n_props):
        domain = classes[rng.randrange(len(classes))]
        rows.append((f"kg:p{k}", domain, "property", f"p{k}", datatypes[k % 4], None, False))
        property_paths += paths[domain]
    _write_rows(out_path, rows, _ONTOLOGY_SCHEMA)
    class_paths = sum(paths.values())
    return {
        "class_rows": n_class_rows,
        "expected_metadata": class_paths + property_paths,
        "expected_concepts": class_paths,
        "expected_modifiers": property_paths,
        "expected_table_access": n_roots,
    }
