"""The served core stands apart from the gate registry: importing the HTTP
server must not load ``queries`` (the 246-query DuckDB-gated registry) or
the registry-only ``functions`` and ``multimodal`` packages."""

from __future__ import annotations

import os
import subprocess
import sys

PKG = "neomarket_clickhouse_indexer_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_http_server_imports_no_registry_module():
    code = (
        "import sys\n"
        f"import {PKG}.serve.http_server\n"
        f"bad = sorted(m for m in sys.modules if m.startswith(("
        f"'{PKG}.queries', '{PKG}.functions', '{PKG}.multimodal')))\n"
        "print('\\n'.join(bad))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=300, check=True,
    ).stdout.split()
    assert out == [], f"serving imports registry modules: {out}"
