"""Deterministic coordinate extraction grammar from page text.

The grammar is pinned (SURVEY.md §2.10): a page's coordinate is the FIRST
occurrence of ``geo:<lat>,<lon>`` with plain decimal degrees. Extraction is
regex-only, no normalization — paired with the byte-identical ``text``
invariant (BASELINE.json:15) this makes (url → lat, lon) reproducible
bit-exactly across runs.

The Spark form is ``pipeline.spatial_join.extract_points`` (pure Column
expressions, no Python worker); ``extract_coords_py`` is the pure-Python
reference it is tested against.
"""

from __future__ import annotations

COORD_REGEX = r"geo:(-?\d{1,2}\.\d{1,6}),(-?\d{1,3}\.\d{1,6})"


def extract_coords_py(text: str) -> tuple[float | None, float | None]:
    """Pure-Python oracle for the extraction grammar (golden tests)."""
    import re

    m = re.search(COORD_REGEX, text or "")
    if not m:
        return None, None
    lat, lon = float(m.group(1)), float(m.group(2))
    if abs(lat) > 90 or abs(lon) > 180:
        return None, None
    return lat, lon
