.PHONY: test bench verify plans report

# the Tier-1 command from ROADMAP.md, verbatim, so a local run matches the gate
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

# emulate the driver's correctness gate at sf0.01
verify:
	python -c "import sys; sys.path.insert(0,'.'); \
	from saurav_nayak_recipe_etl_project_spark.session import get_spark; \
	from saurav_nayak_recipe_etl_project_spark.registry import QUERIES, ORACLES; \
	from tests.oracle import assert_matches_oracle; \
	s=get_spark(); s.sparkContext.setLogLevel('ERROR'); \
	sf='/root/testdata/sf0.01'; \
	[assert_matches_oracle(QUERIES[n](s,sf),ORACLES[n],sf) if n in ORACLES else QUERIES[n](s,sf).count() for n in sorted(QUERIES)]; \
	print('all queries verified')"

plans:
	python -m saurav_nayak_recipe_etl_project_spark.plans.dump

report:
	python -c "from saurav_nayak_recipe_etl_project_spark.session import get_spark; \
	from saurav_nayak_recipe_etl_project_spark.report import run_report; \
	s=get_spark(); s.sparkContext.setLogLevel('ERROR'); \
	print(run_report(s, '/root/testdata/sf0.01', 'out/report'))"
