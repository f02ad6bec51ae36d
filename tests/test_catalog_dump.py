"""tools/catalog_dump.py keeps measured growth cells when the sf1 bench
snapshot it derives them from is absent (a clean checkout)."""

from __future__ import annotations

import importlib.util
import pathlib

TOOL = pathlib.Path(__file__).parent.parent / "tools" / "catalog_dump.py"


def _load():
    spec = importlib.util.spec_from_file_location("catalog_dump", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_growth_cells_carry_over_without_snapshot(tmp_path, monkeypatch):
    cd = _load()
    (tmp_path / "docs").mkdir()
    (tmp_path / "docs" / "CATALOG.md").write_text(
        "# CATALOG\n\n"
        "| query | family | shuffles | bcasts | scale class | oracle | growth/R | growth/R² | what it computes |\n"
        "|---|---|---|---|---|---|---|---|---|\n"
        "| a_query | stats | 2 | 0 | light-shuffle | yes | 0.42 | — | mean \\| median |\n"
        "| b_query | corpus | 0 | 0 | scan-local | yes | 0.10† | 1.05 | tokens |\n"
    )
    (tmp_path / "BENCH_DETAIL.json").write_text('{"sf": 0.1, "queries": {"a_query": 1.0}}')
    monkeypatch.setattr(cd, "REPO", str(tmp_path))
    assert cd.growth_exponents() == {"a_query": "0.42", "b_query": "0.10†"}


def test_growth_cells_measured_when_snapshot_present(tmp_path, monkeypatch):
    cd = _load()
    (tmp_path / "BENCH_DETAIL.json").write_text('{"sf": 0.1, "queries": {"a_query": 1.0}}')
    (tmp_path / "BENCH_DETAIL_sf1.0.json").write_text('{"sf": 1.0, "queries": {"a_query": 5.0}}')
    monkeypatch.setattr(cd, "REPO", str(tmp_path))
    assert cd.growth_exponents() == {"a_query": "0.50"}
