"""The embedding-probe algebra lives in one module: no module under
``sparkocr/`` other than ``pipeline/similarity.py`` scores a cosine (a
``cosine_expr`` call) or orders rows by it (``desc("cosine")``). The
materialized index builds candidate frames and hands them to
``similarity``'s scoring tail and pair kernel instead."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkocr"
HOME = PKG / "pipeline" / "similarity.py"


def _name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    return f.id if isinstance(f, ast.Name) else None


def _violations(path: pathlib.Path) -> list[str]:
    out = []
    for call in ast.walk(ast.parse(path.read_text())):
        if not isinstance(call, ast.Call):
            continue
        name = _name(call)
        if name == "cosine_expr":
            out.append(f"{path.name}:{call.lineno} scores a cosine")
        elif name == "desc" and any(
            isinstance(a, ast.Constant) and a.value == "cosine" for a in call.args
        ):
            out.append(f"{path.name}:{call.lineno} orders by cosine")
    return out


def test_scoring_and_cosine_order_live_in_similarity_only():
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
        "s = F.round(cosine_expr(e, q), 6).alias('cosine')\n"
        "t = similarity.cosine_expr(a, b)\n"
        "df.orderBy(F.desc('cosine'), 'vec_id')\n"
        "df.orderBy(desc('cosine'))\n"
        "df.orderBy(F.desc('score'), 'vec_id')\n"
        "top = cosine_topk(df, q, k=10)\n"
    )
    assert sorted(v.split(" ", 1)[0] for v in _violations(bad)) == [
        "bad.py:1", "bad.py:2", "bad.py:3", "bad.py:4",
    ]
    assert _violations(HOME)  # the guard reads the home module's forms
