"""Correctness of timed results against the DuckDB oracle.

The oracle result of each query is computed once per data directory
(``prep.build_oracle_cache``) and kept as a digest of its canonical rows
(``oracle.canonical_rows``: columns sorted by name, cells canonicalised,
rows sorted), so equal digests mean ``oracle.compare_frames`` finds no
difference. Canonicalising a large result is slow (about 7 s for
q_sessionize's 955k rows), so a result whose exact content was already
verified is recognised by a fast order-insensitive fingerprint instead.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

from hadoop_log_analysis_spark import oracle


def digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256("\x1e".join(sorted(pdf.columns)).encode())
    for row in oracle.canonical_rows(pdf):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def fingerprint(pdf: pd.DataFrame) -> str:
    """Hash of the exact frame content, independent of row order."""
    cols = sorted(pdf.columns)
    h = hashlib.sha256(repr([(c, str(pdf[c].dtype)) for c in cols]).encode())
    row_hashes = np.zeros(len(pdf), dtype=np.uint64)
    for i, c in enumerate(cols):
        try:
            col = pd.util.hash_pandas_object(pdf[c], index=False).to_numpy()
        except TypeError:  # unhashable cells (arrays, dicts)
            col = pd.util.hash_pandas_object(
                pdf[c].map(oracle._canon_cell), index=False
            ).to_numpy()
        row_hashes ^= col * np.uint64(2 * i + 1)  # odd multiplier per column
    h.update(np.sort(row_hashes).tobytes())
    return h.hexdigest()


class Checker:
    """Checks results of one data directory; remembers verified
    fingerprints in ``verified_path`` across runs."""

    def __init__(self, expected: dict[str, dict], verified_path: str):
        self.expected = expected
        self.verified_path = verified_path
        self.verified: dict[str, list[str]] = {}
        if os.path.exists(verified_path):
            with open(verified_path) as f:
                self.verified = json.load(f)

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        """Return None if ``pdf`` is the expected result, else a reason."""
        exp = self.expected[name]
        if len(pdf) != exp["rows"]:
            return f"row count {len(pdf)} != expected {exp['rows']}"
        fp = fingerprint(pdf)
        if fp in self.verified.get(name, ()):
            return None
        if digest(pdf) != exp["digest"]:
            return "values differ from the oracle"
        self.verified.setdefault(name, []).append(fp)
        return None

    def save(self) -> None:
        tmp = self.verified_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.verified, f)
        os.replace(tmp, self.verified_path)
