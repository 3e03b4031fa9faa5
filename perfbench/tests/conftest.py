import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules import each other by name, as run.py does
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(_HERE)))
