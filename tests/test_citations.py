"""Every reference citation in the repo must resolve to a real file.

Guards against the round-5 drift class (docstrings citing a
non-existent hw4 TPC-H file) — see ``tools/check_citations.py``.
No Spark session needed; pure filesystem check.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import check_citations  # noqa: E402


def test_no_dangling_reference_citations():
    bad = check_citations.dangling()
    assert not bad, f"dangling reference citations: {bad}"


def test_citations_are_actually_collected():
    # Sanity: the scanner finds the well-known citations, so an empty
    # `dangling()` means "all resolve", not "regex matched nothing".
    cites = check_citations.collect_citations()
    assert "hw3/hw3.py" in cites
    assert "FinalProject/BDM_Final.py" in cites
    assert len(cites) >= 10


def test_fabricated_citation_still_fails():
    # spelled in two pieces so this file does not itself cite it
    fake = "hw4/" + "BDM_HW4.py"
    assert not check_citations.resolves(fake)
    assert check_citations.resolves("hw3/hw3.py")
