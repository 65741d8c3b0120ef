import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's own modules, then the program at the repository root
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
