"""Provenance hygiene: every ``/root/reference/...`` file path cited
in a docstring or comment must point at a file that actually exists in
the reference snapshot.  A dead pointer (e.g. the since-fixed
``langscrape/scraper.py`` citation in scheduler/cuckoo.py) sends a
reviewer verifying behavioral parity to a file that is not there."""

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
# ':'-excluded so trailing ``:NN`` / ``:NN-MM`` line ranges drop off.
_CITE = re.compile(r"/root/reference/[A-Za-z0-9_./-]+")
# Directories legitimately cited as directories (trailing / or bare).
_SCAN = [
    REPO / "langscrape_spark",
    REPO / "scripts",
    REPO / "tests",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
]


def _py_files():
    for root in _SCAN:
        if root.is_file():
            yield root
        else:
            yield from sorted(root.rglob("*.py"))


@pytest.mark.skipif(
    not Path("/root/reference").is_dir(),
    reason="reference snapshot /root/reference is not present",
)
def test_all_cited_reference_paths_exist():
    missing = []
    for py in _py_files():
        if py.resolve() == Path(__file__).resolve():
            continue
        text = py.read_text(encoding="utf-8", errors="replace")
        for m in _CITE.finditer(text):
            cited = m.group(0).rstrip("./")
            if not Path(cited).exists():
                missing.append(f"{py.relative_to(REPO)}: {cited}")
    assert not missing, "dead reference citations:\n" + "\n".join(missing)
