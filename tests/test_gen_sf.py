"""BENCH/gen_sf.py write guard: the generator must never write into the
read-only testdata tree (no Spark, no files written)."""

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "gen_sf", Path(__file__).resolve().parents[1] / "BENCH" / "gen_sf.py"
)
gen_sf = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(gen_sf)


def test_testdata_guard_refuses_root_and_children_only():
    root = gen_sf.READ_ONLY_TESTDATA
    assert gen_sf.writes_into_testdata(root)
    assert gen_sf.writes_into_testdata(root + "/")
    assert gen_sf.writes_into_testdata(root + "/sf1")
    assert not gen_sf.writes_into_testdata(root + "_local/sf1")
