import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_TEST_DIR = "/root/reference/projects/fortissimo-html/test"
REFERENCE_SKIP = "reference fixture"

# The reference's SMALL_SAMPLE (html-parser.spec.ts:7-13): a minimal page used
# as the base document for the EOF-recovery matrix.
SMALL_SAMPLE = """<!DOCTYPE html>
<html>
<head><meta charset="utf-8"><title>Sample</title></head>
<body>Sample<img src="/foo.jpg" width="32" height="32" alt="can't"/></body>
</html>
"""


def fixture_text(name: str) -> str:
    path = os.path.join(REFERENCE_TEST_DIR, name)
    if not os.path.exists(path):
        pytest.skip(f"{REFERENCE_SKIP} {name} not available")
    with open(path, encoding="utf-8") as f:
        return f.read()


def fixture_bytes(name: str) -> bytes:
    path = os.path.join(REFERENCE_TEST_DIR, name)
    if not os.path.exists(path):
        pytest.skip(f"{REFERENCE_SKIP} {name} not available")
    with open(path, "rb") as f:
        return f.read()


@pytest.fixture(scope="session")
def sample_html() -> str:
    return fixture_text("sample.html")


@pytest.fixture(scope="session")
def sample_w3c() -> str:
    return fixture_text("sample-w3c.html")


def pytest_terminal_summary(terminalreporter):
    # reference-parity tests skip when the fixtures are absent: count them
    # so a green run never hides how many did not run
    n = sum(REFERENCE_SKIP in str(rep.longrepr)
            for rep in terminalreporter.stats.get("skipped", []))
    terminalreporter.write_line(f"reference parity: {n} skipped (fixtures absent)")
