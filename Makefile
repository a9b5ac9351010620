# spark-kg — entry points (analog of the reference's Makefile targets)

PY ?= python
SF ?= /root/testdata/sf0.1

.PHONY: test bench kgbench kgbench-pairs kgbench-summary scaling demo clean

# the tier-1 command: every test runs (no -x), one Spark core per host CPU
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	SPARK_GRAFT_SF_DIR=$(SF) $(PY) bench.py

# one benchmark workload (crawl_kg or rdf_facts); TRACE=1 adds the per-layer metrics
WL ?= rdf_facts
SEED ?= 1
SECONDS ?= 14
TRACE ?= 0

kgbench:
	$(PY) kgbench/run.py --workload $(WL) --seed $(SEED) --seconds $(SECONDS) --trace $(TRACE)

# interleaved BASE/working-tree pairs of one workload, one pair per seed;
# the side that runs first alternates from pair to pair. BASE is exported
# with git archive into a temp dir (removed at the end). Each invocation's
# last JSON line goes to PAIRS_OUT as {"side", "seed", "result"}.
BASE ?= HEAD~1
SEEDS ?= 601 602 603 604 605 606 607 608 609 610
PAIRS_OUT ?= kgbench_pairs.jsonl

kgbench-pairs:
	@set -e; base=$$(mktemp -d); trap 'rm -rf "$$base"' EXIT; \
	git archive $(BASE) | tar -x -C "$$base"; \
	: > "$(PAIRS_OUT)"; i=0; \
	for s in $(SEEDS); do \
	  if [ $$((i % 2)) -eq 0 ]; then order="base change"; else order="change base"; fi; \
	  for side in $$order; do \
	    if [ $$side = base ]; then dir="$$base"; else dir="$(CURDIR)"; fi; \
	    echo "pair $$i seed $$s: $$side"; \
	    line=$$(cd "$$dir" && $(PY) kgbench/run.py --workload $(WL) --seed $$s \
	      --seconds $(SECONDS) --trace $(TRACE) | tail -n 1); \
	    echo "{\"side\": \"$$side\", \"seed\": $$s, \"result\": $${line:-null}}" >> "$(PAIRS_OUT)"; \
	  done; \
	  i=$$((i + 1)); \
	done

# per end-to-end metric of PAIRS_OUT: each side's median and quartiles,
# the change's wins, and whether a gain holds (>= 9/10 wins, median gap
# larger than the base's interquartile range)
kgbench-summary:
	$(PY) kgbench_summary.py "$(PAIRS_OUT)"

scaling:
	$(PY) bench_scaling.py

# full spark-submit --py-files demo: synth corpus -> triples, from a zip
demo:
	rm -rf /tmp/kg_demo && mkdir -p /tmp/kg_demo
	zip -qr /tmp/kg_demo/kg.zip rdf_i2b2_converter_spark
	cp submit.py /tmp/kg_demo/
	cd /tmp/kg_demo && spark-submit --master local[8] --py-files kg.zip submit.py \
		synth --n-docs 10000 --partitions 32 --out corpus
	cd /tmp/kg_demo && spark-submit --master local[8] --py-files kg.zip submit.py \
		pipeline --pages corpus/pages --gazetteer corpus/gazetteer \
		--ontology corpus/ontology --alias-edges corpus/alias_edges \
		--out triples --parts 32

# ---- Iceberg (needs network for --packages; the sandbox image has no jar,
# so tests/test_iceberg.py is collected-skipped until one of these runs)
# Pick the runtime matching your Spark minor version, e.g.
#   Spark 4.0.x -> org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0
ICEBERG_PKG ?= org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0

iceberg-test:
	PYSPARK_SUBMIT_ARGS="--packages $(ICEBERG_PKG) pyspark-shell" \
		$(PY) -m pytest tests/test_iceberg.py -q

# spark-submit recipe with an Iceberg hadoop catalog wired in
iceberg-demo:
	rm -rf /tmp/kg_iceberg && mkdir -p /tmp/kg_iceberg
	zip -qr /tmp/kg_iceberg/kg.zip rdf_i2b2_converter_spark
	cp submit.py /tmp/kg_iceberg/
	cd /tmp/kg_iceberg && spark-submit --master local[8] --py-files kg.zip \
		--packages $(ICEBERG_PKG) \
		--conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
		--conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
		--conf spark.sql.catalog.local.type=hadoop \
		--conf spark.sql.catalog.local.warehouse=/tmp/kg_iceberg/wh \
		submit.py synth --n-docs 10000 --partitions 32 --out corpus

clean:
	rm -rf /tmp/kg_demo /tmp/kgsub /tmp/kg_iceberg
