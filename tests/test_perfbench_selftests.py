"""perfbench's Spark-free self-tests, collected into the main suite:
seeded generators, output checks rejecting corrupted outputs, failure
counting and BENCHMARK.json == metrics.py.  The tests live beside the
benchmark (``python -m pytest perfbench -q`` runs them alone)."""

from perfbench.test_perfbench import *  # noqa: F401,F403
