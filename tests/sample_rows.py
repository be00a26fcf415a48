"""The reference repo's own sample_data rows (``sample_old.csv`` /
``sample_new.csv``), shared by the tests that drive the sample pair.

They carry the drift cases the reference README demos: whitespace drift,
fuzzy-pass vs fuzzy-fail renames, tolerance-boundary prices, date format
drift, quantity change, ignored vendor swap, location renames.
"""

from __future__ import annotations

import csv
import os

COLS = (
    "ID string, Name string, Price double, Date string, Quantity int, "
    "Category string, Description string, Vendor string, Location string, "
    "Status string"
)
HEADER = [c.split()[0] for c in COLS.split(", ")]
OLD_ROWS = [
    ("1", "ACME Corp", 100.0, "2025-07-09", 10, "Equity", "Tech giant", "OldSys", "NY", "Active"),
    ("2", "Beta LLC", 250.5, "2025-07-09", 5, "Bond", "Government bond", "OldSys", "LA", "Active"),
    ("3", "Gamma Inc", 75.25, "2025-07-09", 8, "Equity", "Industrial", "OldSys", "SF", "Inactive"),
    ("4", "Delta Co", 300.0, "2025-07-09", 2, "ETF", "Index fund", "OldSys", "Chicago", "Active"),
    ("5", "Epsilon Ltd", 150.75, "2025-07-09", 6, "Equity", "Healthcare", "OldSys", "Boston", "Inactive"),
]
NEW_ROWS = [
    ("1", "ACME  Corp ", 100.0, "09 Jul 2025", 10, "Equity", "Tech giant", "NewSys", "New York", "Active"),
    ("2", "Beta LLC", 250.49, "2025-07-09", 5, "Bond", "Govt bond", "NewSys", "Los Angeles", "Active"),
    ("3", "Gamma Incorp", 75.3, "2025/07/09", 8, "Equity", "Industrial", "NewSys", "San Francisco", "Inactive"),
    ("4", "Delta Company", 310.0, "2025-07-09", 3, "ETF", "Index fund", "NewSys", "Chicago", "Active"),
    ("5", "Epsilon Ltd", 150.75, "2025-07-09", 6, "Equity", "Healthcare", "NewSys", "Boston", "Inactive"),
]


def write_sample_csvs(directory: str) -> tuple[str, str]:
    """Write the rows as ``sample_old.csv`` / ``sample_new.csv`` (header
    row first) under ``directory``; return the two paths."""
    paths = []
    for name, rows in (("sample_old.csv", OLD_ROWS), ("sample_new.csv", NEW_ROWS)):
        path = os.path.join(directory, name)
        with open(path, "w", newline="") as f:
            writer = csv.writer(f)
            writer.writerow(HEADER)
            writer.writerows(rows)
        paths.append(path)
    return paths[0], paths[1]
