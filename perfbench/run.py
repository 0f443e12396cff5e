#!/usr/bin/env python3
"""Run one benchmark workload; see README.md in this directory."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lhbench.cli import main  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
