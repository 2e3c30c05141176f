"""Layer-attributed extraction benchmark (see README.md in this directory).

Run from the repository root::

    python3 layerbench/run.py --workload skewed_corpus --seed 1 --seconds 5 --trace 0
"""
