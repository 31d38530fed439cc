# Verification gates. The driver's correctness gate runs at sf0.01;
# two real bug classes only surface at sf0.1 (watermark cutoffs,
# cross-engine rounding ties), so scale-sweep is part of "done".

SF001 := /root/testdata/sf0.01
SF01  := /root/testdata/sf0.1
SF1   := testdata_sf1

.PHONY: test oracle scale-sweep partition-sweep oracle-sf01 oracle-sf1 fuzz fuzz-changelog bench verify

test:
	python -m pytest tests/ -q

oracle:            ## full registry vs DuckDB at the gated sf0.01
	python tools/check_oracle.py --sf $(SF001)

scale-sweep:       ## streaming + changelog + cep queries at sf0.1
	python tools/check_oracle.py --sf $(SF01) --tag streaming --tag changelog --tag cep

partition-sweep:   ## streaming + changelog + cep queries at 1 and at 8 state partitions
	SPARK_GRAFT_CPUS=1 python tools/check_oracle.py --sf $(SF001) --tag streaming --tag changelog --tag cep
	SPARK_GRAFT_CPUS=8 python tools/check_oracle.py --sf $(SF001) --tag streaming --tag changelog --tag cep

oracle-sf01:       ## full registry at sf0.1 (run before round end)
	python tools/check_oracle.py --sf $(SF01)

oracle-sf1:        ## full registry at sf1 (crash-resumable; build fixture first)
	test -d $(SF1) || python tools/make_sf1.py --dst $(SF1)
	python tools/check_oracle.py --sf $(SF1) --jsonl .sf1_sweep.jsonl
	python tools/verify_cluster_sf1.py --sf $(SF1)

fuzz:              ## 1000-seed property-based cross-engine fuzz
	python tools/fuzz_oracle.py --seeds 1000

fuzz-changelog:    ## 200-seed replay of every streaming state operator arm
	python tools/fuzz_changelog.py --seeds 200

bench:
	python bench.py

verify: test oracle scale-sweep partition-sweep fuzz-changelog bench
