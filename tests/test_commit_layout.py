"""One file-manifest protocol: outside ``sparkocr/manifest.py`` no module
under ``sparkocr/`` calls ``.create(`` or ``.rename(`` on a Hadoop
FileSystem. Every commit file is written as a tmp file renamed into place
by that module, so a second, hand-rolled publish (one that deletes the old
file before its rename, or renames over a version another writer
committed) cannot come back. ``os.rename`` on a local path is not a Hadoop
FileSystem call and is not checked."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkocr"
#: the one module allowed to create and rename commit files
HOME = PKG / "manifest.py"


def _violations(path: pathlib.Path) -> list[str]:
    return [
        f"{path.name}:{call.lineno} .{call.func.attr}("
        for call in ast.walk(ast.parse(path.read_text()))
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr in ("create", "rename")
        and not (isinstance(call.func.value, ast.Name) and call.func.value.id == "os")
    ]


def test_only_the_manifest_module_creates_or_renames_files():
    found = [v for p in sorted(PKG.rglob("*.py")) if p != HOME for v in _violations(p)]
    assert not found, found
    # the guard is not vacuous: the module it exempts does both
    assert sorted(v.split(" ")[1] for v in _violations(HOME)) == [".create(", ".rename("]


def test_guard_sees_the_forms_it_checks(tmp_path):
    src = tmp_path / "src.py"
    src.write_text(
        "out = fs.create(tmp, True)\n"
        "fs.rename(tmp, final)\n"
        "os.rename(tmp, path)\n"
        "self._fs.rename(a, b)\n"
        "if not fs.rename(tmp, final):\n    pass\n"
        "df = spark.createDataFrame(rows)\n"
        "jvm.org.apache.hadoop.fs.FileSystem.get(conf).create(p)\n"
    )
    assert sorted(_violations(src)) == [
        "src.py:1 .create(", "src.py:2 .rename(", "src.py:4 .rename(",
        "src.py:5 .rename(", "src.py:8 .create(",
    ]
