"""Gazetteer mention detection: token-level multi-pattern matching in
mapInPandas.

The reference finds "instances of configured classes" by SPARQL type lookup
(get_next_class_instances, src/data_loader.py:95-123); our corpus is raw
text, so the analog is dictionary matching of gazetteer surfaces against
each page's token stream. This is the one operator built-in Spark SQL
cannot express (multi-pattern substring search over 10^6 surfaces), so it
is a batched Arrow `mapInPandas`: the automaton is built ONCE per executor
from a broadcast surface list and amortized over every Arrow batch — no
per-row Python-object churn beyond the token loop itself. (A Counter/
set-intersection matcher was prototyped as a vectorization and MEASURED
~1.8x SLOWER at 85 and 10k surfaces: the AC walk is already one C-level
dict probe per token, the interpreted floor without a C extension.)

Semantics (shared with the pure-Python oracle, sources/synthetic.py):
- tokenization contract: config.TOKEN_SPLIT_REGEX on lowercased text;
- ALL matches are reported, including overlapping ones (the single-token
  surface inside a multi-token one) — mirroring the reference's exhaustive
  predicate-object enumeration (explore_obstree visits every edge,
  src/data_loader.py:278-292).

Scale: pages never shuffle — matching is map-side; output is one row per
(url, surface) with a count, so downstream joins carry the compacted form.
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Iterator
from itertools import repeat

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..config import TOKEN_SPLIT_REGEX
from ..functions.text import extract_text_py


_SPLIT_RE = re.compile(TOKEN_SPLIT_REGEX)


class TokenAhoCorasick:
    """Aho-Corasick over token sequences (not characters): states are token
    trie nodes, failure links computed by BFS. Match unit = gazetteer
    surface as a tuple of tokens."""

    def __init__(self, surfaces: list[str]):
        # trie: list of dicts token -> state; outputs: state -> [surface]
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[tuple[str, int]]] = [[]]  # (surface, n_tokens)
        self.fail: list[int] = [0]
        for s in surfaces:
            toks = tuple(t for t in _SPLIT_RE.split(s.lower()) if t)
            if not toks:
                continue
            st = 0
            for t in toks:
                nxt = self.goto[st].get(t)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[st][t] = nxt
                st = nxt
            self.out[st].append((s, len(toks)))
        # BFS failure links
        q: deque[int] = deque()
        for st in self.goto[0].values():
            q.append(st)
        while q:
            r = q.popleft()
            for tok, u in self.goto[r].items():
                q.append(u)
                f = self.fail[r]
                while f and tok not in self.goto[f]:
                    f = self.fail[f]
                # (goto[f].get(tok) can never equal u: fail links are
                # strictly shallower than their node — review r5 removed a
                # dead '!= u' guard that probed the dict twice)
                self.fail[u] = self.goto[f].get(tok, 0)
                # eager output flattening: O(chain^2) entries for nested-
                # suffix dictionaries, but find() needs NO fail-chain walk
                # per state — the measured trade for the hot matcher loop
                # (a suffix-heavy 10^6-surface gazetteer would prefer the
                # classic output-link; ours are entity surfaces, flat)
                self.out[u] = self.out[u] + self.out[self.fail[u]]

    def find(self, toks: list[str]) -> Iterator[tuple[str, int, int]]:
        """Yield (surface, begin_token, end_token_exclusive) for all matches."""
        st = 0
        for i, tok in enumerate(toks):
            while st and tok not in self.goto[st]:
                st = self.fail[st]
            st = self.goto[st].get(tok, 0)
            for surface, n in self.out[st]:
                yield surface, i - n + 1, i + 1

    def mentions(self, text: str) -> dict[str, list[int]]:
        """surface -> [begin, end, n] over ``text``'s tokens (the
        TOKEN_SPLIT_REGEX split of its lowercase form): the token span of
        the surface's FIRST occurrence and the count of ALL occurrences.
        The one matcher loop of detect_mentions and synthetic.gen_mentions."""
        seen: dict[str, list[int]] = {}
        for surface, b, e in self.find([t for t in _SPLIT_RE.split(text.lower()) if t]):
            ent = seen.get(surface)
            if ent is None:
                seen[surface] = [b, e, 1]
            else:
                ent[2] += 1
        return seen


# per-executor automaton cache keyed by the surface tuple ITSELF (true
# content equality — review r5: a (len, hash) key could collide between
# different surface lists and silently reuse the wrong automaton; id(bc.
# value) is likewise unsafe since CPython reuses id() values after GC).
# Capacity 2: a long-lived executor serving alternating gazetteers (A/B
# jobs) keeps both automatons instead of rebuilding the pure-Python trie
# on every switch.
_AC_CACHE: dict[tuple[str, ...], TokenAhoCorasick] = {}


def detect_mentions(
    pages: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    repartition_to: int | None = None,
    passthrough_cols: tuple[str, ...] = (),
    counter=None,
    html_col: str | None = None,
) -> DataFrame:
    """pages(text/url) x gazetteer(surface) -> MENTIONS(url, surface,
    begin_pos, end_pos, n_occurrences [, passthrough...]). Token positions
    of the FIRST occurrence; count of all occurrences.

    ``passthrough_cols``: page columns (lang, warc_ts, ...) copied onto
    every mention row map-side. This is how downstream context joins are
    avoided entirely — re-joining mentions back to pages on url would mean
    a shuffle or a driver-built broadcast of the full url set, both of
    which are serial-ish costs the matcher can make free.

    ``repartition_to``: optionally shuffle pages to N partitions first —
    useful when the source collapses to few input splits (tiny local files);
    at real scale leave None and let input splits drive parallelism.

    ``counter``: optional Spark accumulator incremented by the number of
    mention rows per batch — per-partition counters without an extra pass
    (north_rule lineage+metrics; may over-count on task retries, like any
    Spark accumulator used for metrics).

    ``html_col``: optional binary html column. A row whose ``text_col`` is
    NULL gets its text from ``extract_text_py(html)`` inside the matcher's
    own worker (the pinned function the ``extract_text`` pandas UDF wraps,
    so the text is byte-identical). One Python worker per task instead of
    an ``extract_text`` eval chained into this one. Only NULL triggers
    extraction: an empty text is kept as it is. Callers that already
    carry text leave it None.
    """
    spark = pages.sparkSession
    # dedupe driver-side: a distinct() over a dozen surfaces would spin up
    # a whole shuffle stage for nothing
    surfaces = sorted({r[0] for r in gazetteer.select("surface").collect()})
    bc = spark.sparkContext.broadcast(surfaces)
    if repartition_to:
        pages = pages.repartition(repartition_to)

    from pyspark.sql import types as T

    base_cols = [f.name for f in schemas.MENTIONS.fields]
    # fresh StructType: StructType.add mutates in place, so never .add onto
    # the shared module-level schema
    out_schema = T.StructType(
        list(schemas.MENTIONS.fields) + [pages.schema[c] for c in passthrough_cols]
    )

    def match(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key = tuple(bc.value)
        ac = _AC_CACHE.get(key)
        if ac is None:
            ac = TokenAhoCorasick(bc.value)
            while len(_AC_CACHE) >= 2:  # bounded, not capacity-1 (review r5)
                _AC_CACHE.pop(next(iter(_AC_CACHE)))
            _AC_CACHE[key] = ac
        for pdf in batches:
            rows: list[tuple] = []
            extras = [pdf[c] for c in passthrough_cols]
            htmls = pdf[html_col] if html_col else repeat(None)
            for i, (url, text, html) in enumerate(zip(pdf["url"], pdf[text_col], htmls)):
                if text is None:
                    text = extract_text_py(html)  # None when html is None
                if not text:
                    continue
                seen = ac.mentions(text)
                if not seen:  # most web pages match nothing — skip the
                    continue  # per-scalar iloc extraction (review r5)
                extra_vals = tuple(col.iloc[i] for col in extras)
                for surface, (b, e, n) in seen.items():
                    rows.append((url, surface, b, e, n) + extra_vals)
            if counter is not None:
                counter.add(len(rows))
            yield pd.DataFrame(
                rows, columns=base_cols + list(passthrough_cols)
            ).astype({"begin_pos": "int32", "end_pos": "int32", "n_occurrences": "int32"})

    cols = dict.fromkeys(c for c in ("url", text_col, html_col, *passthrough_cols) if c)
    return pages.select(*cols).mapInPandas(match, schema=out_schema)


def link_mentions(
    mentions: DataFrame, gazetteer: DataFrame, pages: DataFrame | None = None
) -> DataFrame:
    """Entity linking: broadcast-join mentions to gazetteer candidates and
    keep the best-scoring candidate per (url, surface).

    Score = gazetteer weight + a deterministic context prior (0.05 when the
    page lang is 'en', the gazetteer's majority source language here) —
    stand-in for the reference's context-validity gating
    (src/data_loader.py:305-318). Ties break on canonical_id ascending so
    linking is order-independent (SURVEY.md §7.4 #3).

    ``pages`` is only needed when the mentions do not already carry a
    ``lang`` column (use detect_mentions(passthrough_cols=("lang",)) to
    avoid this join entirely).

    Physical shape: argmax via ``min_by`` over an ordering struct, NOT a
    row_number window — a hash aggregate gets map-side partial combine
    (duplicate (url, surface) candidates collapse before the shuffle),
    whereas a window must sort-shuffle every candidate row. At 10^12
    mentions that is the difference between shuffling best-per-key and
    shuffling everything.
    """
    cand = mentions.join(F.broadcast(gazetteer), "surface")
    if "lang" not in cand.columns and pages is not None:
        # fallback path only (passthrough_cols avoids it): pages is
        # CORPUS-sized, so no forced broadcast — AQE broadcasts a small
        # pages frame and shuffle-joins a web-scale one (review r4)
        cand = cand.join(pages.select("url", "lang"), "url", "left")
    lang_prior = (
        F.when(F.col("lang") == "en", 0.05).otherwise(0.0)
        if "lang" in cand.columns
        else F.lit(0.0)
    )
    # the ORDERING uses the raw score — rounding first would collapse
    # genuinely different weights into ties and let the canonical_id
    # tie-break pick the lower-weight candidate (review r5: any weight
    # gap < 5e-5, routine for learned gazetteers); only the EMITTED
    # link_score column is rounded
    raw_score = F.col("weight") + lang_prior
    cand = cand.withColumn("link_score", F.round(raw_score, 4))
    payload_cols = [c for c in cand.columns if c not in ("url", "surface")]
    # ordering: highest raw score, then smallest canonical_id, then the
    # full remaining payload — two candidate rows identical in (score,
    # canonical_id) but differing elsewhere (same entity id under two
    # type hierarchies) must still resolve deterministically
    # (SURVEY.md §7.4 #3); struct comparison is lexicographic
    order = F.struct(
        (-raw_score).alias("neg"),
        F.col("canonical_id").alias("cid"),
        *[F.col(c).alias(f"t{i}") for i, c in enumerate(payload_cols)],
    )
    best = (
        cand.groupBy("url", "surface")
        .agg(F.min_by(F.struct(*payload_cols), order).alias("__best"))
        .select("url", "surface", "__best.*")
    )
    return best.drop("weight")
