"""Print the per-layer self-time rollup of a trace a traced run wrote.

    python3 perfbench/rollup.py .perfbench_work/trace/etl_refresh-s1.json
"""

from __future__ import annotations

import json
import sys

from harness import rollup

if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        print(rollup(json.load(f)))
