"""The measurement scripts under ``scripts/``, without Spark: the probe's
argument check and summary arithmetic, the committed query catalog, and
what the scripts may import or hard-code."""

from __future__ import annotations

import ast
import os
import re

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


@pytest.fixture
def scripts(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))


def test_probe_unknown_name_exits_2_before_any_session(scripts, monkeypatch):
    import probe

    from kafka_streams_common_spark import session

    def no_session(*_a, **_k):
        raise AssertionError("get_spark called before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        probe.main(["j5_enrichment_chain,no_such_query", "--runs", "1"])
    assert exc.value.code == 2


def test_probe_summary_quartiles_and_ratio(scripts):
    import probe

    build = [0.5, 0.1, 0.2, 0.4, 0.3]
    run = [1.0, 2.0, 3.0, 4.0, 5.0]
    out = probe.summarize(build, run)
    assert out["build_s"] == {"p25": 0.2, "median": 0.3, "p75": 0.4}
    assert out["run_s"] == {"p25": 2.0, "median": 3.0, "p75": 4.0}
    # totals 1.5, 2.1, 3.2, 4.4, 5.3: quartiles of the sums, not sums of quartiles
    assert out["total_s"] == {"p25": 2.1, "median": 3.2, "p75": 4.4}
    assert out["raw"] == {"build_s": build, "run_s": run}
    assert "ratio" not in out
    assert probe.summarize(build, run, base=1.6)["ratio"] == 2.0
    assert probe.summarize([0.25], [1.0])["total_s"] == {"p25": 1.25, "median": 1.25, "p75": 1.25}


def test_committed_query_catalog_matches_registry(scripts):
    import gen_query_catalog

    with open(gen_query_catalog.CATALOG, encoding="utf-8") as fh:
        committed = fh.read()
    assert committed == gen_query_catalog.catalog_text(), (
        "docs/query_catalog.md is stale: run scripts/gen_query_catalog.py"
    )


def test_scripts_import_no_private_names_and_hardcode_no_repo_path(scripts):
    """Scripts find the repo from their own path and measure the package
    through its public names, so a refactor of operator internals never
    has to edit them. The only absolute paths they spell out are fixture
    directories."""
    import probe

    fixtures = os.path.dirname(probe.DEFAULT_SF)
    for fname in sorted(os.listdir(SCRIPTS)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(SCRIPTS, fname), encoding="utf-8") as fh:
            src = fh.read()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.match(r"/\w", node.value):
                    assert os.path.dirname(node.value) == fixtures, (
                        f"{fname}:{node.lineno} hard-codes {node.value!r}"
                    )
                continue
            if isinstance(node, ast.ImportFrom) and node.module:
                parts = node.module.split(".") + [a.name for a in node.names]
            elif isinstance(node, ast.Import):
                parts = [p for a in node.names for p in a.name.split(".")]
            else:
                continue
            if parts[0] == "kafka_streams_common_spark":
                private = [p for p in parts if p.startswith("_")]
                assert not private, f"{fname}:{node.lineno} imports {private}"
