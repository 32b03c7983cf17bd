import os
import sys

# the benchmark imports the package and itself from the checkout root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
