"""Every package module must be reachable from a ``job.py`` stage.

The walk follows ``import`` / ``from ... import`` edges (absolute and
relative, at any nesting depth) in the ast of each module, starting at
``fetch_engines_spark.job``.  Importing a submodule also reaches the
packages that contain it.  A module that no stage reaches is dead weight
in the ``--py-files`` zip unless it is on the allow-list below, with its
reason.
"""

import ast
from pathlib import Path

import pytest

import fetch_engines_spark
from fetch_engines_spark import job

ROOT = Path(fetch_engines_spark.__file__).resolve().parent
PKG = ROOT.name

ALLOWED_UNREACHED = {
    # the reference's 25 test pages as document rows: test and benchmark
    # data, never input to a stage
    f"{PKG}.fixtures": "test and benchmark data",
    # the north rule names PDF/layout parse; routing PDFs through
    # `--stage extract` would add an input type, so it stays stage-less
    f"{PKG}.pdf": "PDF/layout parse kept for the north rule",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in ROOT.rglob("*.py"):
        if "__pycache__" in path.parts:
            continue
        parts = [PKG, *path.relative_to(ROOT).with_suffix("").parts]
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    package = name if path.name == "__init__.py" else name.rsplit(".", 1)[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            found.add(module)
            found.update(f"{module}.{a.name}" for a in node.names)
    return {m for m in found if m in mods}


def _reachable(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [f"{PKG}.job"]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(name, mods[name], mods))
    return seen


def test_every_module_is_reached_from_a_job_stage():
    mods = _package_modules()
    unreached = set(mods) - _reachable(mods)
    assert unreached == set(ALLOWED_UNREACHED), (
        f"reached by no job.py stage: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowed but now reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )


def test_walk_follows_relative_imports():
    """The walk itself: `job` reaches `pipelines.dedup` through a
    function-level relative import, the `pipelines` package that holds
    it, and `extract` one hop further, through `checkpoint`."""
    mods = _package_modules()
    reached = _reachable(mods)
    assert {f"{PKG}.extract", f"{PKG}.pipelines", f"{PKG}.pipelines.dedup"} <= reached


def test_semdedup_stage_is_rejected(monkeypatch):
    """Every retired stage (``semdedup``, then ``curate`` and ``mix``,
    then ``media-dedup``, then ``compact-index``) left the package with
    its code, so argparse rejects it as a ``--stage`` choice before any
    Spark session starts; so too each retired stage-only flag
    (``media-dedup``'s ``--docs`` and ``--incremental-signatures``,
    ``dedup``'s ``--incremental-index``), as an unknown argument."""
    from fetch_engines_spark import session

    started = []
    monkeypatch.setattr(session, "get_spark", lambda **kw: started.append(kw))
    base = ["--input", "x", "--output", "y", "--run-id", "r"]
    rejected = [
        ["--stage", s]
        for s in ("semdedup", "curate", "mix", "media-dedup", "compact-index")
    ]
    rejected += [
        ["--docs", "x"],
        ["--incremental-signatures", "x"],
        ["--incremental-index", "x"],
    ]
    for extra in rejected:
        with pytest.raises(SystemExit) as exit_info:
            job.main(base + extra)
        assert exit_info.value.code == 2, extra
        assert started == [], extra
