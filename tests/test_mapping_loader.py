"""YAML mapping-file loader parity (reference
``backend/analysis/mapping.py:27-45`` + ``mapping.yaml:11-65``) and an
end-to-end drift test through the loaded config on the reference's
``sample_data/sample_old.csv`` / ``sample_new.csv`` row pairs."""

from __future__ import annotations

import pytest

from data_reconciliation_spark.config import load_mapping
from data_reconciliation_spark.functions.normalize import prepare_snapshot
from data_reconciliation_spark.operators.reconcile import reconcile
from tests.sample_rows import COLS, NEW_ROWS, OLD_ROWS

MAPPING_YAML = """\
# shape-parity fixture: reference mapping.yaml:11-65
ignore_nulls: false
include_missing_records: false

pair_name: "  Sample  "
pk: [" ID "]
fields:
  " Name ":
    type: string
    clean:
      - strip_whitespace
      - lowercase
    fuzzy_match: 90
  price:
    type: decimal
    tolerance: 0.01
  date:
    type: date
    formats:
      - '%Y-%m-%d'
      - '%d %b %Y'
      - '%Y/%m/%d'
  quantity:
    type: integer
  category:
    type: string
    clean:
      - strip_whitespace
      - lowercase
  description:
    type: string
    clean:
      - strip_whitespace
      - lowercase
    fuzzy_match: 80
  vendor:
    type: ignore
  location:
    type: string
    clean:
      - strip_whitespace
      - lowercase
    fuzzy_match: 80
  status:
    type: string
    clean:
      - strip_whitespace
      - lowercase
  empty_rules:
"""


@pytest.fixture(scope="module")
def mapping_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("mapping") / "mapping.yaml"
    p.write_text(MAPPING_YAML)
    return str(p)


def test_load_mapping_normalization(mapping_path):
    m = load_mapping(mapping_path)
    # reference loader: strip+lower pair_name, pk entries, field names
    assert m.pair_name == "sample"
    assert m.pk == ("id",)
    fields = m.recon.fields
    assert "name" in fields and " Name " not in fields
    assert fields["name"].is_fuzzy and fields["name"].fuzzy_match == 90
    assert fields["price"].is_tolerance and fields["price"].tolerance == 0.01
    assert fields["date"].type == "date"
    assert fields["date"].formats == ("%Y-%m-%d", "%d %b %Y", "%Y/%m/%d")
    assert fields["vendor"].is_ignored
    # empty rule body (bare `field:`) -> default rule, like `rules or {}`
    assert fields["empty_rules"].type is None and not fields["empty_rules"].clean
    assert m.recon.ignore_nulls is False
    assert m.recon.include_missing_records is False


def test_sample_pair_drift_through_loaded_mapping(spark, mapping_path):
    """ETL (canonicalize -> rename -> clean) + reconcile driven entirely
    by the loaded YAML, reproducing the reference flow app.py:52-70.

    Expected exceptions derived rule-by-rule from the reference
    semantics (fuzzy = rapidfuzz.fuzz.ratio on CLEANED strings;
    decimal = abs diff > tolerance in float64; date/quantity = exact;
    vendor ignored):

    * id 1: date format drift (exact fail), location 'ny' vs 'new york'
      (ratio 40 < 80); name 'acme corp' vs 'acme  corp' ratio 94.7
      PASSES at 90.
    * id 2: price |250.5-250.49| = 0.009999999999990905 in float64 —
      UNDER the 0.01 tolerance (the classic boundary case; pandas and
      Spark doubles agree it is a match), description ratio 75 < 80,
      location ratio ~30 < 80.
    * id 3: name ratio 85.7 < 90, price 0.05 > 0.01, date format
      drift, location fail.
    * id 4: name ratio 76.2 < 90, price 10 > 0.01, quantity 2 != 3.
    * id 5: identical -> clean.
    """
    m = load_mapping(mapping_path)
    df_old = prepare_snapshot(spark.createDataFrame(OLD_ROWS, COLS), m.recon.fields)
    df_new = prepare_snapshot(spark.createDataFrame(NEW_ROWS, COLS), m.recon.fields)
    res = reconcile(df_old, df_new, list(m.pk), m.recon)
    got = {(r["id"], r["field"]) for r in res.exceptions.collect()}
    want = {
        ("1", "date"), ("1", "location"),
        ("2", "description"), ("2", "location"),
        ("3", "name"), ("3", "price"), ("3", "date"), ("3", "location"),
        ("4", "name"), ("4", "price"), ("4", "quantity"),
    }
    assert got == want
