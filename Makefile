.PHONY: test bench dist scaling clean

test:
	python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

scaling:
	python tools/scaling_bench.py

dist:
	mkdir -p dist
	cd . && rm -f dist/sparkdedup.zip && zip -qr dist/sparkdedup.zip sparkdedup -i '*.py'

# example cluster submission (local master here; swap for yarn/k8s master)
submit: dist
	spark-submit --master 'local[8]' --py-files dist/sparkdedup.zip \
	  jobs/dedup.py --input $(INPUT) --workdir $(WORKDIR)

clean:
	rm -rf dist BENCH/__pycache__ .pytest_cache
