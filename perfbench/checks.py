"""Output checks. Each returns the list of failures it found; the benchmark
counts them into ``failed``. Checking runs outside every timed region."""

from __future__ import annotations

import math
from collections import Counter


def check_pages(rows: list[dict], truth: list[dict]) -> list[str]:
    """Extraction output vs the generator's truth, one failure per url.

    Every url appears exactly once; kind and error presence equal
    ``page_kind_expected``; HTML main text is byte-identical to the
    generator's golden ``text`` where it supplies one. ``rows`` carry
    ``url, kind, error, text``."""
    seen = Counter(r["url"] for r in rows)
    got = {r["url"]: r for r in rows}
    bad = []
    for t in truth:
        u = t["url"]
        r = got.get(u)
        if r is None:
            bad.append(f"{u}: missing")
        elif seen[u] != 1:
            bad.append(f"{u}: appears {seen[u]} times")
        elif r["kind"] != t["kind"] or (r["error"] is not None) != t["has_error"]:
            bad.append(f"{u}: kind/error {r['kind']}/{r['error']!r}, expected "
                       f"{t['kind']}/{'error' if t['has_error'] else 'none'}")
        elif t["text"] is not None and r["text"] != t["text"]:
            bad.append(f"{u}: main text differs from the golden text")
    extra = set(got) - {t["url"] for t in truth}
    bad += [f"{u}: not in the input" for u in sorted(extra)]
    return bad


def check_manifest(manifest: dict, partitions: int, n_docs: int) -> list[str]:
    """A finished job has one manifest record per partition whose doc counts
    sum to the input size."""
    bad = []
    if len(manifest) != partitions:
        bad.append(f"manifest has {len(manifest)} of {partitions} partitions")
    total = sum(m["docs"] for m in manifest.values())
    if total != n_docs:
        bad.append(f"manifest doc total {total}, expected {n_docs}")
    return bad


def _canon(val) -> str:
    if isinstance(val, float):
        return "nan" if math.isnan(val) else f"{val:.9g}"
    if hasattr(val, "isoformat"):
        return val.isoformat()
    return str(val)


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_canon(v) for v in rec) for rec in df[cols].itertuples(index=False))


def same_result(got, exp) -> bool:
    """Order-insensitive equality of a query result and its DuckDB twin:
    column names, row count, dtype kind per column and canonical values
    (the comparison ``tests/test_entry_oracle.py`` makes)."""
    exp = exp.rename(columns=str.lower)
    if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False
    norm = {"u": "i"}
    for c in got.columns:
        if len(got) and norm.get(got[c].dtype.kind, got[c].dtype.kind) != norm.get(
            exp[c].dtype.kind, exp[c].dtype.kind
        ):
            return False
    return _rows(got) == _rows(exp)
