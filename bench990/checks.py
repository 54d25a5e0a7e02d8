"""Independent expectations and output checks.

Expected values come from the generated XML through the standard
library alone (``xml.etree``); nothing here imports the program. Each
``check_*`` function compares one kind of program output, already
collected into plain Python values, with the expectation and returns a
list of problems: an empty list means the output is right.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass

# Part VII Section A (990) and officer-list (990EZ) group elements the
# F9-P07-TABLE-01-DTK-COMPENSATION table is built from, by schema era,
# with the element holding the compensation from the filing org
DTK_TABLE = "F9-P07-TABLE-01-DTK-COMPENSATION"
DTK_AMOUNT_COL = "F9_07_PZ_COMP_DIRECT"
DTK_GROUPS = {
    "Form990PartVIISectionAGrp": ("ReportableCompFromOrgAmt",),
    "Form990PartVIISectionA": ("ReportableCompFromOrganization",),
    "OfficerDirectorTrusteeEmplGrp": ("CompensationAmt",),
    "OfficerDirectorTrusteeKeyEmpl": ("Compensation",),
}
DTK_BODIES = ("IRS990", "IRS990EZ")
# Schedule J Part II rows and their base compensation
SJ_TABLE = "SJ-P02-T01-COMPENSATION"
SJ_AMOUNT_COL = "SJ_02_PC_COMP_BASE"
SJ_GROUPS = {
    "RltdOrgOfficerTrstKeyEmplGrp": ("BaseCompensationFilingOrgAmt",),
    "Form990ScheduleJPartII": ("BaseCompensationFilingOrg",),
}


@dataclass(frozen=True)
class Expected:
    """What one clean filing must produce."""

    url: str
    ein: str
    form: str
    fisyr: str
    dtk: tuple[int, int]  # (rows, amount sum)
    sj: tuple[int, int]


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _child(node, *names):
    for c in node:
        if _local(c.tag) in names:
            return c
    return None


def _groups(body, groups: dict[str, tuple[str, ...]]) -> tuple[int, int]:
    rows = total = 0
    if body is None:
        return 0, 0
    for g in body:
        amount_tags = groups.get(_local(g.tag))
        if amount_tags is None:
            continue
        rows += 1
        amt = _child(g, *amount_tags)
        if amt is not None and amt.text:
            total += int(amt.text)
    return rows, total


def expect(url: str, xml: str) -> Expected:
    """Parse one clean filing and derive its expected output."""
    root = ET.fromstring(xml)
    header = _child(root, "ReturnHeader")
    data = _child(root, "ReturnData")
    filer = _child(header, "Filer")
    dtk = (0, 0)
    for b in DTK_BODIES:
        body = _child(data, b)
        if body is not None:
            dtk = _groups(body, DTK_GROUPS)
    return Expected(
        url=url,
        ein=_child(filer, "EIN").text,
        form=_child(header, "ReturnTypeCd", "ReturnType").text,
        fisyr=_child(header, "TaxYr", "TaxYear").text,
        dtk=dtk,
        sj=_groups(_child(data, "IRS990ScheduleJ"), SJ_GROUPS),
    )


def is_malformed(xml: str) -> bool:
    try:
        ET.fromstring(xml)
    except ET.ParseError:
        return True
    return False


# -- checks ------------------------------------------------------------


def check_core(expected: dict[str, Expected], rows: list[tuple]) -> list[str]:
    """CORE holds each expected filing exactly once, with its XML's
    (URL, EIN, FORMTYPE, FISYR). ``rows`` are those four columns."""
    problems = []
    seen: dict[str, int] = {}
    for url, ein, form, fisyr in rows:
        seen[url] = seen.get(url, 0) + 1
        e = expected.get(url)
        if e is None:
            problems.append(f"CORE has unexpected filing {url}")
        elif (ein, form, fisyr) != (e.ein, e.form, e.fisyr):
            problems.append(
                f"CORE {url}: got {(ein, form, fisyr)}, want {(e.ein, e.form, e.fisyr)}"
            )
    problems += [f"CORE holds {url} {n} times" for url, n in seen.items() if n > 1]
    problems += [f"CORE lacks {url}" for url in expected.keys() - seen.keys()]
    return problems


def check_dead_letters(expected_urls: set[str], urls: list[str]) -> list[str]:
    """The dead-letter table holds each truncated filing exactly once."""
    problems = []
    if len(urls) != len(set(urls)):
        problems.append(f"dead letters repeat: {len(urls)} rows, {len(set(urls))} filings")
    got = set(urls)
    problems += [f"dead letter for clean filing {u}" for u in got - expected_urls]
    problems += [f"no dead letter for truncated filing {u}" for u in expected_urls - got]
    return problems


def check_groups(
    table: str, expected: dict[str, tuple[int, int]], actual: dict[str, tuple[int, int]]
) -> list[str]:
    """Per filing (rows, amount sum) of a repeating-group table equal the
    group-element count and amount sum in the XML. Filings without
    groups must have no rows."""
    problems = []
    for url in expected.keys() | actual.keys():
        want = expected.get(url, (0, 0))
        got = actual.get(url, (0, 0))
        if want != got:
            problems.append(f"{table} {url}: got (rows, sum) {got}, want {want}")
    return problems


def check_lookup(ein: str, expected_urls: set[str], urls: list[str]) -> list[str]:
    if sorted(urls) != sorted(expected_urls):
        return [f"lookup {ein}: got {sorted(urls)}, want {sorted(expected_urls)}"]
    return []


def check_validate(result: dict[str, int]) -> list[str]:
    if not result:
        return ["validate_database returned no checks"]
    return [f"validate {k} = {v}" for k, v in result.items() if v != 0]

