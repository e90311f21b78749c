import os
import sys

# the benchmark's modules import each other as top-level modules (run.py
# runs with perfbench/ as its script directory)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
