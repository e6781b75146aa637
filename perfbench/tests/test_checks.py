import pandas as pd

from perfbench import oracle
from perfbench.analytics import check_result
from perfbench.harness import Ops


def _frames():
    got = pd.DataFrame({"k": [2, 1, 3], "v": [0.5, 1.5, 2.5], "s": ["b", "a", "c"]})
    expected = got.sample(frac=1.0, random_state=0)[["s", "v", "k"]].reset_index(drop=True)
    return got, expected


def test_matching_result_in_any_row_and_column_order_passes():
    got, expected = _frames()
    ops = Ops()
    assert check_result(ops, "q", got, expected)
    assert (ops.attempted, ops.failed) == (1, 0)


def test_wrong_query_result_is_a_failure():
    got, expected = _frames()
    wrong = got.copy()
    wrong.loc[0, "v"] = 0.75
    ops = Ops()
    assert not check_result(ops, "q", wrong, expected)
    assert ops.failed == 1 and "col v" in ops.failures[0]


def test_compare_flags_count_schema_and_int_float_mismatch():
    got, expected = _frames()
    assert oracle.compare(got.iloc[:2], expected)[0].startswith("row count")
    assert oracle.compare(got.rename(columns={"v": "w"}), expected)[0].startswith("schema")
    as_float = expected.assign(k=expected["k"].astype("float64"))
    assert any("dtype" in issue for issue in oracle.compare(got, as_float))


def test_query_without_oracle_needs_rows():
    ops = Ops()
    check_result(ops, "q", pd.DataFrame({"a": []}), None)
    check_result(ops, "q", pd.DataFrame({"a": [1]}), None)
    assert (ops.attempted, ops.failed) == (2, 1)


def test_run_refuses_a_directory_without_the_program(tmp_path):
    import os
    import shutil
    import subprocess
    import sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_fleet", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
