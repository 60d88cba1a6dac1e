"""The served import closure: the package modules that importing
``serve.http_server`` loads, measured in a fresh interpreter, each with its
line count, then the totals.

Usage: python3 scripts/served_closure.py [repo root, default: this repo]
"""

from __future__ import annotations

import os
import subprocess
import sys

PKG = "neomarket_clickhouse_indexer_spark"


def closure(root: str) -> list[tuple[str, int]]:
    """``(module, lines)`` for every package module ``serve.http_server``
    loads, in name order."""
    code = (
        "import sys\n"
        f"import {PKG}.serve.http_server\n"
        "for name, m in sorted(sys.modules.items()):\n"
        f"    if name.split('.')[0] == '{PKG}':\n"
        "        print(name, m.__file__)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, timeout=300, check=True,
    ).stdout
    mods = []
    for line in out.splitlines():
        name, path = line.split(" ", 1)
        with open(path, encoding="utf-8") as f:
            mods.append((name, sum(1 for _ in f)))
    return mods


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    mods = closure(root)
    for name, lines in mods:
        print(f"{lines:6d}  {name}")
    print(f"{sum(n for _, n in mods):6d}  total lines in {len(mods)} modules")


if __name__ == "__main__":
    main()
