"""Static check that the product code has one decode path (no Spark)."""
import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _calls(tree: ast.AST, name: str):
    """(enclosing function, line) of every call to ``name``, bare or as an
    attribute."""
    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            called = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if called == name:
                out.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_decode_page_bytes_is_called_only_by_decode_parse():
    # every page kernel must make the same charset decision, so the raw
    # sniff-and-decode step is reachable only through decode_parse
    paths = sorted(glob.glob(os.path.join(ROOT, "fortissimo_spark", "*.py")))
    paths.append(os.path.join(ROOT, "__spark_entry__.py"))
    sites = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        sites += [(os.path.relpath(path, ROOT), fn, line)
                  for fn, line in _calls(tree, "decode_page_bytes")]
    assert [(p, fn) for p, fn, _ in sites] == [
        (os.path.join("fortissimo_spark", "kernel.py"), "decode_parse")], sites
