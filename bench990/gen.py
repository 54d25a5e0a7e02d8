"""Seeded input generator for the 990-database benchmark.

Every byte the program reads comes from here and from the 13-file
fixture vintage matrix vendored in ``fixtures/`` (990, 990EZ and 990PF
filings across the 2009-2015 schema eras), so the inputs depend only on
the benchmark and its ``--seed``.

A filing is one fixture re-stamped with a fresh EIN and ObjectId.
Realistic-size filings are grown the way real e-files get big: Part VII
and Schedule J groups of 5-40 rows in the element names of the
fixture's schema era, plus Schedule O narrative up to a 50-250 KB byte
target. A truncated filing is cut at 60% of its bytes, which leaves an
unclosed element the program must dead-letter.

Proportions are exact counts, not per-filing coin flips, and document
sizes are stratified, so every seed gives the same form mix and byte
volume and only the order and the identities change.
"""

from __future__ import annotations

import json
import os
import random
import re
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = Path(__file__).resolve().parent / "fixtures"
URL_PREFIX = "https://s3.amazonaws.com/irs-form-990/"

_FILER_EIN = re.compile(r"<EIN>\d{9}</EIN>")
_WORDS = (
    "community outreach program grant support services education health "
    "mission volunteer board governance compliance fiscal stewardship "
    "initiative partnership development impact annual report disclosure "
    "policy review committee expenditure"
).upper().split()


@dataclass
class Filing:
    object_id: str
    ein: str
    form: str
    tax_period: str
    name: str
    xml: str
    truncated: bool = False
    listed: bool = True  # has an entry in the yearly index
    available: bool = True  # the index entry's IsAvailable
    bundled: bool = True  # its XML is in the bundle

    @property
    def url(self) -> str:
        return f"{URL_PREFIX}{self.object_id}_public.xml"


@dataclass
class YearInputs:
    year: int
    filings: list[Filing]
    index_dir: str
    bundle_dir: str
    xml_bytes: int = 0


def load_fixtures() -> list[tuple[str, str]]:
    """(form, text) for each vendored fixture, in file-name order."""
    out = []
    for p in sorted(FIXTURE_DIR.glob("*.xml")):
        text = p.read_text(encoding="utf-8")
        m = re.search(r"<ReturnType(?:Cd)?>([^<]+)</ReturnType(?:Cd)?>", text)
        if m is None:
            raise ValueError(f"{p.name}: no return type")
        out.append((m.group(1), text))
    return out


def _tag(text: str, *names: str) -> str | None:
    for n in names:
        m = re.search(f"<{n}>([^<]*)</{n}>", text)
        if m:
            return m.group(1)
    return None


def _group_rows(rng: random.Random, form: str, new_era: bool, n: int, tag: str) -> str:
    """``n`` Part VII (990) or officer (990EZ) rows in the era's names."""
    rows = []
    for j in range(n):
        person = f"PERSON {tag}-{j:02d}"
        hours = f"{rng.randint(1, 60)}.0"
        comp = rng.randint(0, 400) * 1000
        if form == "990" and new_era:
            rows.append(
                f"<Form990PartVIISectionAGrp><PersonNm>{person}</PersonNm>"
                f"<TitleTxt>DIRECTOR</TitleTxt>"
                f"<AverageHoursPerWeekRt>{hours}</AverageHoursPerWeekRt>"
                f"<OfficerInd>X</OfficerInd>"
                f"<ReportableCompFromOrgAmt>{comp}</ReportableCompFromOrgAmt>"
                f"<OtherCompensationAmt>{rng.randint(0, 99) * 100}"
                f"</OtherCompensationAmt></Form990PartVIISectionAGrp>"
            )
        elif form == "990":
            rows.append(
                f"<Form990PartVIISectionA><NamePerson>{person}</NamePerson>"
                f"<Title>DIRECTOR</Title>"
                f"<AverageHoursPerWeek>{hours}</AverageHoursPerWeek>"
                f"<ReportableCompFromOrganization>{comp}"
                f"</ReportableCompFromOrganization></Form990PartVIISectionA>"
            )
        elif new_era:
            rows.append(
                f"<OfficerDirectorTrusteeEmplGrp><PersonNm>{person}</PersonNm>"
                f"<TitleTxt>DIRECTOR</TitleTxt>"
                f"<AverageHrsPerWkDevotedToPosRt>{hours}"
                f"</AverageHrsPerWkDevotedToPosRt>"
                f"<CompensationAmt>{comp}</CompensationAmt>"
                f"</OfficerDirectorTrusteeEmplGrp>"
            )
        else:
            rows.append(
                f"<OfficerDirectorTrusteeKeyEmpl><PersonName>{person}</PersonName>"
                f"<Title>DIRECTOR</Title>"
                f"<AvgHoursPerWkDevotedToPosition>{hours}"
                f"</AvgHoursPerWkDevotedToPosition>"
                f"<Compensation>{comp}</Compensation>"
                f"</OfficerDirectorTrusteeKeyEmpl>"
            )
    return "".join(rows)


def _sched_j_rows(rng: random.Random, new_era: bool, n: int, tag: str) -> str:
    rows = []
    for j in range(n):
        person = f"PERSON {tag}-{j:02d}"
        base = rng.randint(50, 400) * 1000
        bonus = rng.randint(0, 50) * 1000
        if new_era:
            rows.append(
                f"<RltdOrgOfficerTrstKeyEmplGrp><PersonNm>{person}</PersonNm>"
                f"<TitleTxt>OFFICER</TitleTxt>"
                f"<BaseCompensationFilingOrgAmt>{base}"
                f"</BaseCompensationFilingOrgAmt>"
                f"<BonusFilingOrganizationAmount>{bonus}"
                f"</BonusFilingOrganizationAmount></RltdOrgOfficerTrstKeyEmplGrp>"
            )
        else:
            rows.append(
                f"<Form990ScheduleJPartII><NamePerson>{person}</NamePerson>"
                f"<Title>OFFICER</Title>"
                f"<BaseCompensationFilingOrg>{base}</BaseCompensationFilingOrg>"
                f"<BonusFilingOrg>{bonus}</BonusFilingOrg></Form990ScheduleJPartII>"
            )
    return "".join(rows)


def narrative_pool(rng: random.Random, n: int = 256) -> list[str]:
    """``n`` Schedule O explanation texts of 150 words each."""
    return [" ".join(rng.choice(_WORDS) for _ in range(150)) for _ in range(n)]


def inflate(
    rng: random.Random,
    xml: str,
    form: str,
    target: int,
    n_part7: int,
    n_sched_j: int,
    narrative: list[str],
) -> str:
    """Grow one fixture-size filing to about ``target`` bytes."""
    new_era = "<ReturnTypeCd>" in xml
    tag = f"{rng.randrange(10**6):06d}"
    body = {"990": "IRS990", "990EZ": "IRS990EZ"}.get(form)
    if body is not None:
        rows = _group_rows(rng, form, new_era, n_part7, tag)
        xml = xml.replace(f"</{body}>", rows + f"</{body}>", 1)
    if form == "990":
        rows = _sched_j_rows(rng, new_era, n_sched_j, tag)
        if "</IRS990ScheduleJ>" in xml:
            xml = xml.replace("</IRS990ScheduleJ>", rows + "</IRS990ScheduleJ>", 1)
        else:
            xml = xml.replace(
                "</ReturnData>", f"<IRS990ScheduleJ>{rows}</IRS990ScheduleJ></ReturnData>", 1
            )
    blocks = []
    deficit = target - len(xml)
    j = 0
    while deficit > 0:
        b = (
            f"<SupplementalInformationDetail><FormAndLineReferenceDesc>PART {j}"
            f"</FormAndLineReferenceDesc><ExplanationTxt>{rng.choice(narrative)}"
            f"</ExplanationTxt></SupplementalInformationDetail>"
        )
        blocks.append(b)
        deficit -= len(b)
        j += 1
    pad = "".join(blocks)
    if "</IRS990ScheduleO>" in xml:
        return xml.replace("</IRS990ScheduleO>", pad + "</IRS990ScheduleO>", 1)
    return xml.replace(
        "</ReturnData>", f"<IRS990ScheduleO>{pad}</IRS990ScheduleO></ReturnData>", 1
    )


def _balanced(rng: random.Random, n: int, k: int) -> list[int]:
    """``n`` indices into ``range(k)``, each used n/k times, shuffled."""
    out = [i % k for i in range(n)]
    rng.shuffle(out)
    return out


def _stratified(rng: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """``n`` values evenly spread over [lo, hi], shuffled."""
    out = [lo + (hi - lo) * i // max(1, n - 1) for i in range(n)]
    rng.shuffle(out)
    return out


def make_filings(
    rng: random.Random,
    n: int,
    first_seq: int,
    year: int,
    eins: list[str],
    large: bool = False,
) -> list[Filing]:
    """``n`` filings over the fixture matrix in balanced proportions,
    with the given filer EINs."""
    fixtures = load_fixtures()
    picks = _balanced(rng, n, len(fixtures))
    sizes = _stratified(rng, n, 50 * 1024, 250 * 1024) if large else None
    part7 = _stratified(rng, n, 5, 40) if large else None
    narrative = narrative_pool(rng) if large else None
    sched_j = _stratified(rng, n, 5, 40) if large else None
    out = []
    for i in range(n):
        form, text = fixtures[picks[i]]
        ein = eins[i]
        xml = _FILER_EIN.sub(f"<EIN>{ein}</EIN>", text, count=1)
        if large:
            xml = inflate(rng, xml, form, sizes[i], part7[i], sched_j[i], narrative)
        end = _tag(text, "TaxPeriodEndDt", "TaxPeriodEndDate") or f"{year}-12-31"
        out.append(
            Filing(
                object_id=f"{year}{first_seq + i:010d}",
                ein=ein,
                form=form,
                tax_period=end[:4] + end[5:7],
                name=_tag(text, "BusinessNameLine1Txt", "BusinessNameLine1") or "",
                xml=xml,
            )
        )
    return out


def _eins(rng: random.Random, n: int, repeat_share: float) -> list[str]:
    """``n`` filer EINs, ``repeat_share`` of them repeating an earlier
    one (an organization with two filings), in seeded order."""
    base = rng.randrange(100_000_000, 800_000_000)
    n_unique = n - int(n * repeat_share)
    uniq = [f"{base + 7 * i:09d}" for i in range(n_unique)]
    out = uniq + [rng.choice(uniq) for _ in range(n - n_unique)]
    rng.shuffle(out)
    return out


def index_entry(f: Filing) -> dict:
    return {
        "EIN": f.ein,
        "TaxPeriod": f.tax_period,
        "DLN": f"9349{f.object_id[-9:]}",
        "FormType": f.form,
        "URL": f.url,
        "OrganizationName": f.name,
        "SubmittedOn": f"{f.tax_period[:4]}-{f.tax_period[4:]}-15",
        "ObjectId": f.object_id,
        "LastUpdated": f"{f.tax_period[:4]}-12-31T12:00:00",
        "IsElectronic": True,
        "IsAvailable": f.available,
    }


def write_index(filings: list[Filing], year: int, index_dir: str) -> None:
    """The IRS yearly wrapped-JSON index: ``{"Filings<year>": [...]}``."""
    os.makedirs(index_dir, exist_ok=True)
    entries = [index_entry(f) for f in filings if f.listed]
    with open(os.path.join(index_dir, f"index_{year}.json"), "w") as fh:
        json.dump({f"Filings{year}": entries}, fh)


def write_bundle(filings: list[Filing], path: str) -> int:
    """One parquet (url, xml) bundle file. Returns the XML bytes written."""
    rows = [f for f in filings if f.bundled]
    table = pa.table(
        {"url": [f.url for f in rows], "xml": [f.xml for f in rows]}
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return sum(len(f.xml) for f in rows)


def year_inputs(seed: int, root: str, n: int, large: bool, parts: int) -> YearInputs:
    """One filing year: ``n`` bundled filings (1% truncated; 3% marked
    unavailable; 2% missing from the index) plus 3% index entries whose
    XML never arrived, in a yearly index and a ``parts``-file bundle.

    These rates, and the 10% of filers who file twice, are assumptions:
    the repository holds no measured figure for them. They are set so
    that the index filter, the semi-join and the dead-letter pass each
    drop rows."""
    rng = random.Random(seed)
    year = 2015
    n_ghost = max(1, n * 3 // 100)
    filings = make_filings(
        rng,
        n + n_ghost,
        first_seq=0,
        year=year,
        eins=_eins(rng, n + n_ghost, 0.1),
        large=large,
    )
    order = list(range(n + n_ghost))
    rng.shuffle(order)
    ghosts = set(order[:n_ghost])
    rest = order[n_ghost:]
    unavailable = set(rest[: n * 3 // 100])
    unlisted = set(rest[n * 3 // 100 : n * 5 // 100])
    for i, f in enumerate(filings):
        f.bundled = i not in ghosts
        f.available = i not in unavailable
        f.listed = i not in unlisted
    for i in rng.sample(rest, max(1, n // 100)):
        filings[i].truncated = True
        filings[i].xml = filings[i].xml[: int(len(filings[i].xml) * 0.6)]
    out = YearInputs(
        year=year,
        filings=filings,
        index_dir=os.path.join(root, "index"),
        bundle_dir=os.path.join(root, "bundle"),
    )
    write_index(filings, year, out.index_dir)
    bundled = [f for f in filings if f.bundled]
    for p in range(parts):
        out.xml_bytes += write_bundle(
            bundled[p::parts], os.path.join(out.bundle_dir, f"part-{p:05d}.parquet")
        )
    return out
