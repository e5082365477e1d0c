"""scripts/make_sf_measure.py reads its source tables only when run:
importing it (to reuse a helper, or under a test collector) does no I/O."""

import importlib.util
import os
from unittest import mock

import pyarrow.parquet as pq

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "make_sf_measure.py",
)


def test_import_reads_no_tables():
    spec = importlib.util.spec_from_file_location("make_sf_measure", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    with mock.patch.object(
        pq, "read_table", side_effect=AssertionError("parquet read at import")
    ):
        spec.loader.exec_module(mod)
    assert callable(mod.main)
