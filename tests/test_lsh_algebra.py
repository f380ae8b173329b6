"""The LSH candidate-pair algebra lives in one module: no module under
``sparkocr/`` other than ``pipeline/dedup.py`` builds MinHash band keys
(an ``md5`` over ``concat_ws``-joined minhash values) or an increment's
combined old∪new bucket count (a ``bn``-named count column, the
``counts`` frame ``dedup.cap_hot_buckets`` takes)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkocr"
HOME = PKG / "pipeline" / "dedup.py"


def _calls(node: ast.AST, attr: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def _violations(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    out = []
    for call in _calls(tree, "md5"):
        if any(_calls(a, "concat_ws") for a in call.args):
            out.append(f"{path.name}:{call.lineno} builds a band key")
    for call in _calls(tree, "alias"):
        name = call.args[0] if call.args else None
        if (
            isinstance(name, ast.Constant)
            and isinstance(name.value, str)
            and (name.value == "bn" or name.value.startswith("bn_"))
        ):
            out.append(f"{path.name}:{call.lineno} builds a bucket count")
    return out


def test_band_keys_and_combined_counts_live_in_dedup_only():
    found = [
        v
        for path in sorted(PKG.rglob("*.py"))
        if path != HOME
        for v in _violations(path)
    ]
    assert not found, found


def test_guard_sees_the_patterns_it_forbids(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "key = F.md5(F.concat_ws(',', *[F.col(f'mh_{i}') for i in r]))\n"
        "n = df.groupBy('sig').agg(F.count(F.lit(1)).alias('bn_new'))\n"
        "t = (F.col('bn_new') + F.coalesce('bn_old', F.lit(0))).alias('bn')\n"
        "h = F.md5(F.concat(F.lit('s'), F.col('vec_id')))\n"
        "c = df.groupBy('doc_id').agg(F.count(F.lit(1)).alias('n_band'))\n"
    )
    assert sorted(v.split(" ", 1)[0] for v in _violations(bad)) == [
        "bad.py:1", "bad.py:2", "bad.py:3",
    ]
    assert _violations(HOME)  # the guard reads the home module's forms
