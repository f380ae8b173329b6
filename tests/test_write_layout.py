"""Partitioned writes are written one task per partition value: every
``DataFrameWriter.partitionBy(c)`` chain under ``sparkocr/`` is written on
``<frame>.repartition(c).write``. Without the matching exchange each map
task writes its own file into every partition it holds rows of, so a
stage of T tasks leaves up to T files per partition, and on a local
filesystem without Hadoop's native library every file (and its ``.crc``)
forks a ``chmod``. ``Window.partitionBy`` is a window spec, not a write,
and is not checked."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "sparkocr"


def _receiver_chain(node: ast.expr):
    """The receivers of a method chain, innermost call first: for
    ``a.b(x).c.d(y)`` yields ``a.b(x).c``, ``a.b(x)``, ``a.b``, ``a``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        node = node.value if isinstance(node, ast.Attribute) else node.func
        yield node


def _violations(path: pathlib.Path) -> tuple[list[str], int]:
    """(violations, partitioned writes checked) of one source file."""
    out, checked = [], 0
    for call in ast.walk(ast.parse(path.read_text())):
        if not (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr == "partitionBy"
        ):
            continue
        chain = list(_receiver_chain(call.func))
        if isinstance(chain[-1], ast.Name) and chain[-1].id == "Window":
            continue
        checked += 1
        where = f"{path.name}:{call.lineno}"
        write = next(
            (n for n in chain if isinstance(n, ast.Attribute) and n.attr == "write"), None
        )
        if write is None:
            out.append(f"{where} partitionBy on a writer not built in the same chain")
            continue
        frame = write.value
        if not (
            isinstance(frame, ast.Call)
            and isinstance(frame.func, ast.Attribute)
            and frame.func.attr == "repartition"
            and [ast.dump(a) for a in frame.args] == [ast.dump(a) for a in call.args]
            and not frame.keywords
        ):
            out.append(f"{where} partitionBy without a matching repartition")
    return out, checked


def test_partitioned_writes_repartition_by_their_partition_column():
    found, checked = [], 0
    for path in sorted(PKG.rglob("*.py")):
        v, n = _violations(path)
        found += v
        checked += n
    assert not found, found
    assert checked >= 4  # the extract job's write and ann_index's three


def test_guard_sees_the_forms_it_checks(tmp_path):
    src = tmp_path / "src.py"
    src.write_text(
        "df.repartition('b').write.mode('overwrite').partitionBy('b').parquet(p)\n"
        "df.write.mode('overwrite').partitionBy('b').parquet(p)\n"
        "df.repartition('a').write.partitionBy('b').parquet(p)\n"
        "df.repartition(8, 'b').write.partitionBy('b').parquet(p)\n"
        "w = df.write.mode('overwrite')\n"
        "w.partitionBy('b').parquet(p)\n"
        "spec = Window.partitionBy('k').orderBy('ts')\n"
        "df.repartition(col).write.partitionBy(col).parquet(p)\n"
    )
    found, checked = _violations(src)
    assert sorted(v.split(" ", 1)[0] for v in found) == [
        "src.py:2", "src.py:3", "src.py:4", "src.py:6",
    ]
    assert checked == 6
