.PHONY: verify guards bench docs

# Full suite — MUST be green at HEAD before any end-of-round snapshot.
# (Rounds 6 and 7 both shipped with a red plan guard because the last
# code commit landed without re-running the guards; this target is the
# contract: run it AFTER the final code change, THEN commit.) The recipe
# is the ROADMAP Tier-1 command verbatim, so it gates exactly what the
# pipeline gates.
verify:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Fast drift-guard subset (~6 min): physical-plan shape pins + DuckDB
# oracle parity at sf0.001. Covers every guard class that has gone red
# in past rounds.
guards:
	python -m pytest tests/test_plans.py tests/test_oracle.py -q

bench:
	python bench.py

# Regenerate OPERATORS.md + README operator index from the registry.
docs:
	python -m hls_payer_mrf_sparkstreaming_spark.docs
