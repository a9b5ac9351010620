import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
# the benchmark's modules, then the repository root (the product package)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
