"""Tools and tests run the engine of the checkout they live in.

A hard-coded checkout path makes any other checkout silently import,
run or benchmark the engine at that path instead of its own (perfbench
imports ``tools/check_oracle.py`` after putting its own checkout on
``sys.path``). No Spark session needed.
"""

import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# a string literal holding an absolute path, passed as a subprocess cwd or
# put on sys.path
_HARDCODED = re.compile(r"""cwd\s*=\s*["']/|sys\.path\.(insert|append)\([^)]*["']/""")


def _sources():
    for sub in ("tools", "tests"):
        yield from sorted((REPO / sub).rglob("*.py"))


def test_no_hardcoded_checkout_path():
    bad = []
    for p in _sources():
        text = p.read_text()
        if str(REPO) in text or _HARDCODED.search(text):
            bad.append(str(p.relative_to(REPO)))
    assert not bad, f"hard-coded checkout path in {bad}"


def test_check_oracle_puts_its_own_checkout_first(tmp_path):
    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    shutil.copy(REPO / "tools" / "check_oracle.py", checkout / "tools")
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import check_oracle; print(sys.path[0])"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, str(checkout / "tools")],
        capture_output=True, text=True, check=True, cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert r.stdout.strip() == str(checkout)
