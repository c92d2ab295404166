"""Every ``tools/<name>.py`` that the README, the verify skill notes, the
package or the tests cite must exist, so a deleted tool cannot leave a
dangling instruction behind. Run records (NOTES.md, OPTIMIZATION_r*.md,
VERDICT.md, CHANGES.md) are exempt: they state what ran at the time."""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CITE = re.compile(r"\btools/(\w+)\.py")


def _cited_sources() -> list[str]:
    paths = [os.path.join(ROOT, "README.md")]
    paths += glob.glob(os.path.join(ROOT, ".*", "skills", "*", "SKILL.md"))
    for tree in ("cyrela_etl_spark", "tests"):
        paths += glob.glob(os.path.join(ROOT, tree, "**", "*.py"), recursive=True)
    return [p for p in paths if os.path.exists(p)]


def test_cited_tools_exist():
    sources = _cited_sources()
    assert any(p.endswith("README.md") for p in sources)
    assert any(p.endswith(os.path.join("verify", "SKILL.md")) for p in sources)
    missing = set()
    for path in sources:
        with open(path, encoding="utf-8") as fh:
            for name in _CITE.findall(fh.read()):
                if not os.path.exists(os.path.join(ROOT, "tools", f"{name}.py")):
                    missing.add((os.path.relpath(path, ROOT), f"tools/{name}.py"))
    assert not missing, sorted(missing)
