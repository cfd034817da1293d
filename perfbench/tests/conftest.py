import os
import sys

# the benchmark's modules import each other as top-level modules, the
# way perfbench/run.py runs them, and import the engine from the root
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
