"""CIND discovery benchmark: seeded inputs, timed closed-loop runs and a
layer-attributed trace of ``rdfind_spark``'s discovery engines.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
