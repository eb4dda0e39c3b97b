"""Static checks on the query registry in __spark_entry__.py (no Spark)."""
import ast
import os

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py")


def test_queries_literal_has_no_duplicate_keys():
    # a repeated key in a dict literal silently keeps the last value, so
    # the registry would list fewer queries than its source suggests
    with open(ENTRY, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    (fn,) = [n for n in tree.body
             if isinstance(n, ast.FunctionDef) and n.name == "queries"]
    (literal,) = [n.value for n in ast.walk(fn)
                  if isinstance(n, ast.Return) and isinstance(n.value, ast.Dict)]
    keys = [k.value for k in literal.keys]
    assert keys, "queries() returns an empty literal"
    assert sorted({k for k in keys if keys.count(k) > 1}) == []
