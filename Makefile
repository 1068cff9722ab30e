.PHONY: test bench smoke parity demo docs

test:
	python -m pytest tests/ -q

bench:
	python3 perfbench/run.py --workload provider_etl --seed 1 --seconds 10

smoke:
	python -c "import sys; sys.path.insert(0,'.'); \
	from data_frame_demo_etl_spark.session import get_spark; \
	import __spark_entry__ as e; \
	df = e.entry(get_spark(master='local[4]')); \
	print(df.count(), 'rows'); df.show()"

parity:
	python -m pytest tests/test_oracle_parity.py -q

demo:
	python -m data_frame_demo_etl_spark.cli profile --path /root/testdata/sf0.001/orders.parquet

docs:
	python scripts/gen_query_index.py
	python scripts/check_counts.py
