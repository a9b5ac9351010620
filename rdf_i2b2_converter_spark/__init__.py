"""spark-kg: PySpark-native knowledge-graph construction engine.

A from-scratch re-realization of the query/data-processing capabilities of
BDSC-CDS/RDF-i2b2-converter (reference at /root/reference, read-only) as an
idiomatic PySpark DataFrame pipeline:

    pages (url, warc_ts, html, text, lang)
      -> mention detection   (Aho-Corasick in mapInPandas, Arrow batches;
                              extracts text from html where it is missing,
                              byte-identical per url, in the same worker)
      -> entity linking      (broadcast gazetteer/ontology joins + window scoring)
      -> canonicalization    (connected components, large-star/small-star)
      -> triple emission     (deterministic URI minting, datatype formatting)
      -> partitioned sink    (parquet/Iceberg, per-partition ledger, resume)

The reference's rdflib recursive-object execution model (src/data_loader.py,
src/rdfwrappers.py) is replaced by DataFrame/Catalyst dataflow; its awk
post-production (src/scripts/postprod.bash) by broadcast joins + windows.

Everything here derives from public knowledge only: the Apache Spark / PySpark
API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
