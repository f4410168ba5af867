"""Every script under tools/, and bench.py, compiles and runs from any
checkout path: none names the checkout's absolute path or puts a literal
path on sys.path (each takes the repo root from ``__file__``)."""

from __future__ import annotations

import py_compile
import re


def test_tools_compile_and_name_no_checkout_path(repo_root, tmp_path):
    scripts = sorted((repo_root / "tools").glob("*.py"))
    assert scripts
    for path in scripts + [repo_root / "bench.py"]:
        py_compile.compile(
            str(path), cfile=str(tmp_path / f"{path.stem}.pyc"), doraise=True
        )
        text = path.read_text()
        assert str(repo_root) not in text, path.name
        assert not re.search(r"sys\.path\.insert\(0, [\"']", text), path.name
