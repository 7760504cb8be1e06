"""Make the benchmark's modules and the program importable:
``python3 -m pytest perfbench/tests -p no:cacheprovider`` from the repo root."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
