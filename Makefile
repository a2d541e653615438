# Convenience targets (mirrors the reference's Makefile role:
# build/test entry points — reference Makefile:26-46).

.PHONY: test check check-fast check-fuzz check-fuzzu check-fuzzs check-fuzzc bench bench-ingest perfbench-ingest plans

test:
	python -m pytest tests/ -x -q

check:        ## driver-style DuckDB-oracle gate at sf0.01
	python tools/check_correctness.py /root/testdata/sf0.01

check-fast:   ## quick gate at sf0.001
	python tools/check_correctness.py /root/testdata/sf0.001

check-fuzz:   ## gate on the adversarially-perturbed fixture (regenerated-data flake hunt)
	python tools/make_fuzz_fixture.py /root/testdata/sf0.01 .fixtures/fuzz0.01
	python tools/check_correctness.py .fixtures/fuzz0.01

check-fuzzu:  ## gate on the multibyte/unicode fuzz profile (char-vs-byte, regex portability)
	python tools/make_fuzz_fixture.py /root/testdata/sf0.01 .fixtures/fuzzu0.01 --unicode
	python tools/check_correctness.py .fixtures/fuzzu0.01

check-fuzzs:  ## gate on the hot-key skew profile (30% of events on one user)
	python tools/make_fuzz_fixture.py /root/testdata/sf0.01 .fixtures/fuzzs0.01 --skew
	python tools/check_correctness.py .fixtures/fuzzs0.01

check-fuzzc:  ## gate on the planted-cluster embedding profile (realistic vector geometry)
	python tools/make_fuzz_fixture.py /root/testdata/sf0.01 .fixtures/fuzzc0.01 --clustered
	python tools/check_correctness.py .fixtures/fuzzc0.01

bench:        ## headline-query benchmark at sf0.1 (one JSON line)
	python bench.py

bench-ingest: ## fan-out ingestion throughput
	python tools/bench_ingest.py

perfbench-ingest: ## ingest fan-out benchmark, end-to-end metrics (one seed)
	python3 perfbench/run.py --workload ingest_fanout --seed 401 --seconds 10 --trace 0

plans:        ## regenerate PLANS.md
	python tools/dump_plans.py
