import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
# the benchmark's modules first: the repository root has its own bench.py
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
