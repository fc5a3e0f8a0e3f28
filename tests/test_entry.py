"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import json
import re
from pathlib import Path

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema.fieldNames()


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle refers to a registered query
    assert set(oracles) <= set(qs)


def test_sweep_order_is_derived_from_swept_rounds():
    """queries() leads with the queries swept least recently (each
    round's sweep budget takes a prefix) and ends with rows-only ones."""
    from motorway_spark.queries import ORACLES, QUERIES

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(QUERIES) and len(qs) == len(QUERIES)
    assert set(oracles) == set(ORACLES) and len(oracles) == len(ORACLES)

    latest: dict[str, int] = {}
    for path in Path(entrymod.__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for name in json.loads(path.read_text()):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))

    with_oracle = [n for n in qs if n in oracles]
    rounds = [latest.get(n, 0) for n in with_oracle]
    assert rounds == sorted(rounds)
    assert list(qs)[len(with_oracle):] == [n for n in qs if n not in oracles]


def test_package_builds_an_sdist_with_every_module(tmp_path):
    """r5 packaging: the pyproject must produce an installable source
    distribution carrying the whole package (the reference ships as a
    pip package, setup.py:1-20 — this is our front door). Built via the
    PEP 517 API; the sandbox lacks the `wheel` backend, so the sdist is
    the build artifact under test."""
    import tarfile

    from setuptools import build_meta

    name = build_meta.build_sdist(str(tmp_path))
    with tarfile.open(tmp_path / name) as t:
        names = t.getnames()
    assert any(n.endswith("motorway_spark/oracle.py") for n in names)
    assert any(n.endswith("motorway_spark/queries/registry.py") for n in names)
    assert any(n.endswith("PKG-INFO") for n in names)
    # fixtures and tests must NOT ship
    assert not any("/tests/" in n or "/testdata/" in n for n in names)
