import os
import shutil
from dataclasses import replace

from perfbench import lakegen
from perfbench.extract import check_mirror
from perfbench.harness import Ops

TINY = replace(lakegen.FLEET, tables=4, groups=(5, 8), trailing_incomplete=0.5)


def _tree(root):
    return lakegen.tree_digest(root)


def test_same_seed_gives_same_lake_tree(tmp_path):
    a = lakegen.Lake(str(tmp_path / "a"), TINY, 5)
    b = lakegen.Lake(str(tmp_path / "b"), TINY, 5)
    a.write()
    b.write()
    assert _tree(a.root) == _tree(b.root)
    a.advance()
    b.advance()
    assert _tree(a.root) == _tree(b.root)
    c = lakegen.Lake(str(tmp_path / "c"), TINY, 6)
    c.write()
    assert _tree(c.root) != _tree(b.root)


def test_lake_holds_every_layout_feature(tmp_path):
    lake = lakegen.Lake(str(tmp_path / "lake"), lakegen.FLEET, 3)
    lake.write()
    names = set()
    for dirpath, _, files in os.walk(lake.root):
        names.update(os.path.join(os.path.relpath(dirpath, lake.root), f) for f in files)
    assert any("/.hoodie/timeline/history/_version_" in n for n in names)
    assert any("/.hoodie/timeline/history/manifest_" in n for n in names)
    assert any("/.hoodie/archived/.commits_.archive." in n for n in names)
    assert any(lakegen.EXCLUDED_MARKER in n for n in names)
    # V9 compound completed instants on v2 tables
    assert any("/.hoodie/timeline/" in n and "_2025" in n.rsplit("/", 1)[1] for n in names)
    assert lake.corrupt_tables == 2
    kinds = {g.kind for t in lake.tables for g in t.groups}
    assert {"rollback", "savepoint", "compaction", "clean"} <= kinds


def test_expected_set_stops_at_first_incomplete_group(tmp_path):
    lake = lakegen.Lake(str(tmp_path / "lake"), replace(TINY, trailing_incomplete=1.0), 1)
    exp = lake.expected_files()
    for t in lake.tables:
        if not t.healthy or t.excluded:
            continue
        tid = lakegen.table_id_for(lake.table_uri(t))
        pending = [name for g in t.groups for name, _ in g.pending]
        assert pending and not any(f"{tid}/active/{n}" in exp for n in pending)
    lake.advance()
    exp = lake.expected_files()
    for t in lake.tables:
        if t.healthy and not t.excluded:
            tid = lakegen.table_id_for(lake.table_uri(t))
            first = t.groups[0].files[0][0]
            assert f"{tid}/active/{first}" in exp


def _materialize(lake, mirror):
    for rel, data in lake.expected_files().items():
        path = os.path.join(mirror, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)


def test_tampered_mirror_file_is_a_failure(tmp_path):
    lake = lakegen.Lake(str(tmp_path / "lake"), TINY, 2)
    mirror = str(tmp_path / "mirror")
    _materialize(lake, mirror)
    ops = Ops()
    check_mirror(ops, "good", mirror, lake)
    assert (ops.attempted, ops.failed) == (1, 0)

    victim = os.path.join(mirror, sorted(lake.expected_files())[0])
    with open(victim, "ab") as f:
        f.write(b"x")
    check_mirror(ops, "tampered", mirror, lake)
    assert (ops.attempted, ops.failed) == (2, 1)
    assert "changed 1" in ops.failures[0]

    shutil.copyfile(victim, victim + ".extra")
    check_mirror(ops, "extra", mirror, lake)
    assert ops.failed == 2 and "extra 1" in ops.failures[1]


def test_expected_set_agrees_with_run_once(spark, tmp_path):
    from lakeview_spark.config import load_config
    from lakeview_spark.runner import run_once

    lake = lakegen.Lake(str(tmp_path / "lake"), TINY, 4)
    lake.write()
    cfg = load_config(lake.config())
    state, mirror = str(tmp_path / "state"), str(tmp_path / "mirror")
    ops = Ops()
    for round_no in range(3):
        if round_no:
            lake.advance()
        metrics = run_once(spark, cfg, state, mirror)
        check_mirror(ops, f"round {round_no}", mirror, lake)
    assert ops.failures == []
    assert metrics["table_metadata_processing_failures"] == lake.corrupt_tables
    assert metrics["tables_discovered"] == lake.discoverable_tables
