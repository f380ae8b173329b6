"""The table-backed commit protocol lives in one module: no other module
under ``sparkocr/`` lays out bucketed tables or writes a store's commit
log or meta row itself."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkocr"
_WRITES = {"saveAsTable", "insertInto"}


def _violations(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    out = []
    for node in ast.walk(ast.parse(src)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name = node.func.attr
        if name == "bucketBy":
            out.append(f"{path.name}:{node.lineno} calls .bucketBy(")
        elif name in _WRITES:
            target = " ".join(ast.get_source_segment(src, a) or "" for a in node.args)
            if "commits" in target or "meta" in target:
                out.append(f"{path.name}:{node.lineno} writes {target}")
    return out


def test_commit_protocol_lives_in_storage_only():
    found = [
        v
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "storage.py"
        for v in _violations(path)
    ]
    assert not found, found


def test_guard_sees_the_patterns_it_forbids(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "df.write.bucketBy(4, 'k').saveAsTable('t')\n"
        "rows.write.saveAsTable(f'{store}_commits')\n"
        "rows.write.insertInto(_meta_table(store))\n"
        "rows.write.saveAsTable(f'{store}_sigs')\n"
    )
    assert sorted(v.split(" ", 1)[0] for v in _violations(bad)) == [
        "bad.py:1", "bad.py:2", "bad.py:3",
    ]
