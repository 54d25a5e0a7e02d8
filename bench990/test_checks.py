"""Each output check passes on right output and fails on corrupted output.

Run with ``python3 -m pytest bench990/test_checks.py``; no Spark needed.
"""

from __future__ import annotations

import random
import sys
from dataclasses import replace
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _expected(n: int = 40) -> dict[str, checks.Expected]:
    rng = random.Random(7)
    eins = [f"{500000000 + i:09d}" for i in range(n)]
    fs = gen.make_filings(rng, n, 0, 2015, eins, large=True)
    return {f.url: checks.expect(f.url, f.xml) for f in fs}


def _core_rows(exp):
    return [(e.url, e.ein, e.form, e.fisyr) for e in exp.values()]


def test_expect_reads_fixture_groups():
    xml = (FIXTURES / "990_2014_100000001_public.xml").read_text()
    e = checks.expect("u", xml)
    assert (e.ein, e.form, e.fisyr) == ("100000001", "990", "2014")
    assert e.dtk == (2, 120000 + 65000)
    assert e.sj == (2, 100000 + 60000)


def test_generated_groups_are_counted_in_every_era():
    exp = _expected()
    forms = {e.form for e in exp.values() if e.dtk[0] >= 5}
    assert forms == {"990", "990EZ"}
    assert all(e.sj[0] >= 5 for e in exp.values() if e.form == "990")


def test_truncation_is_malformed():
    rng = random.Random(3)
    f = gen.make_filings(rng, 1, 0, 2015, ["123456789"])[0]
    assert not checks.is_malformed(f.xml)
    assert checks.is_malformed(f.xml[: int(len(f.xml) * 0.6)])


def test_check_core():
    exp = _expected()
    rows = _core_rows(exp)
    assert checks.check_core(exp, rows) == []
    assert checks.check_core(exp, rows[1:])  # a filing missing
    assert checks.check_core(exp, rows + rows[:1])  # a filing twice
    url, ein, form, fisyr = rows[0]
    assert checks.check_core(exp, [(url, "999999999", form, fisyr)] + rows[1:])
    other_form = "990EZ" if form != "990EZ" else "990"
    assert checks.check_core(exp, [(url, ein, other_form, fisyr)] + rows[1:])
    assert checks.check_core(exp, [(url, ein, form, "1999")] + rows[1:])
    assert checks.check_core(exp, rows + [("https://x/1_public.xml", ein, form, fisyr)])


def test_check_dead_letters():
    want = {"a", "b"}
    assert checks.check_dead_letters(want, ["a", "b"]) == []
    assert checks.check_dead_letters(want, ["a"])
    assert checks.check_dead_letters(want, ["a", "b", "b"])
    assert checks.check_dead_letters(want, ["a", "b", "c"])


def test_check_groups():
    exp = _expected()
    want = {u: e.dtk for u, e in exp.items() if e.dtk[0]}
    assert checks.check_groups("T", want, dict(want)) == []
    url = next(iter(want))
    rows, total = want[url]
    assert checks.check_groups("T", want, {**want, url: (rows - 1, total)})
    assert checks.check_groups("T", want, {**want, url: (rows, total + 1000)})
    assert checks.check_groups("T", want, {u: v for u, v in want.items() if u != url})
    assert checks.check_groups("T", want, {**want, "extra": (1, 0)})


def test_check_lookup():
    assert checks.check_lookup("1", {"a", "b"}, ["b", "a"]) == []
    assert checks.check_lookup("1", {"a", "b"}, ["a"])
    assert checks.check_lookup("1", set(), ["a"])
    assert checks.check_lookup("1", {"a"}, ["a", "a"])


def test_check_validate():
    assert checks.check_validate({"core_ein_format": 0, "core_url_unique": 0}) == []
    assert checks.check_validate({"core_ein_format": 0, "core_url_unique": 2})
    assert checks.check_validate({})


def test_expectation_is_seeded(tmp_path):
    a = gen.year_inputs(5, str(tmp_path / "a"), 60, False, 2)
    b = gen.year_inputs(5, str(tmp_path / "b"), 60, False, 2)
    c = gen.year_inputs(6, str(tmp_path / "c"), 60, False, 2)
    assert [f.xml for f in a.filings] == [f.xml for f in b.filings]
    assert [f.xml for f in a.filings] != [f.xml for f in c.filings]
    assert replace(a, index_dir="", bundle_dir="") == replace(b, index_dir="", bundle_dir="")
