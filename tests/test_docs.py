"""Doc-hygiene checks: counts advertised in README stay derived from the
actual registry, and the entry point serves that registry as it is."""

import os
import re

import __spark_entry__ as E
from gdal_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_registry_count_current():
    text = open(os.path.join(REPO, "README.md")).read()
    advertised = {int(m) for m in re.findall(r"(\d+)-query registry", text)}
    advertised |= {int(m) for m in re.findall(r"registry \((\d+) entries", text)}
    assert advertised, "README no longer states the registry size"
    assert advertised == {len(Q.QUERIES)}, (
        f"README advertises {sorted(advertised)} but registry has "
        f"{len(Q.QUERIES)} entries"
    )


def test_every_query_has_oracle():
    assert set(Q.ORACLES) == set(Q.QUERIES)
    # the entry point lists both in registration order
    assert list(E.queries()) == list(E.oracle_sql()) == list(Q.QUERIES)


def test_survey_ledger_matches_registry():
    """SURVEY §8.0's consolidated ledger (generated by
    scripts/gen_survey_ledger.py) stays in lockstep with the registry:
    same row count, no duplicates, every name registered."""
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    start = text.index("<!-- LEDGER-START")
    end = text.index("<!-- LEDGER-END -->")
    block = text[start:end]
    names = re.findall(r"^\| \d+ \| `([a-z0-9_]+)` \|", block, re.M)
    assert len(names) == len(Q.QUERIES), (
        f"ledger has {len(names)} rows, registry {len(Q.QUERIES)} — "
        "re-run scripts/gen_survey_ledger.py"
    )
    assert len(set(names)) == len(names), "duplicate ledger rows"
    assert set(names) == set(Q.QUERIES)

