"""Puts the benchmark's modules on the import path for the tests."""
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import build  # noqa: E402,F401
import gen  # noqa: E402,F401
import layers  # noqa: E402,F401
import stats  # noqa: E402,F401
