"""Doc check: execute every ```python block in docs/USAGE.md in order,
in one shared namespace, so the quick-start never drifts from the API.
Run: python tools/run_usage_examples.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    doc = open(
        os.path.join(os.path.dirname(__file__), "..", "docs", "USAGE.md")
    ).read()
    blocks = re.findall(r"```python\n(.*?)```", doc, re.DOTALL)
    assert blocks, "no python blocks found"
    ns: dict = {}
    for i, block in enumerate(blocks):
        print(f"-- block {i + 1}/{len(blocks)} ({len(block.splitlines())} lines)")
        exec(compile(block, f"<usage block {i + 1}>", "exec"), ns)
    # the examples must have produced live results
    assert ns["people"].count() >= 0
    assert ns["closure"].count() > 0
    print("usage examples: all blocks ran")
    return 0


if __name__ == "__main__":
    sys.exit(main())
