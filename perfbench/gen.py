"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes parquet with
pyarrow (no Spark), so the engine only ever sees the generated files.
Outputs are cached per seed under the work directory; a cache entry is
written to a temporary directory and renamed into place, so a run that
dies half way never leaves a partial entry behind.

Sizes (why each workload has its size is also recorded in NOTES.md):

- IDR staging (``idr``): 12,500 patients over 100 facilities. The
  refresh op is bound by building and planning the four wide chains,
  not by rows (5.5-7 s per op here against 6.5-9 s at 50,000
  patients), and a smaller extract is faster to generate per seed.
- Event deliveries (``events``): 6,000 patients over 48 facilities,
  the MMD extract and dimensions only. A delivery keeps the ~130 rows
  of one facility of a 50,000-patient extract; the smaller facility
  count keeps the SiteCode-partitioned warehouse the workload fills in
  set-up to 46 partitions (384 partitions took 45 s to write and
  10 s to read back on a 4-vCPU machine).

Every quirk of the FIXTURES.md shapes appears at scale: exact and
(SiteCode, CCC) entity duplicates, ``"None"`` string nulls in the
all-string MMD extract, facilities missing from the MFL and hub
dimensions, VL result-date ties and cross-site ccc collisions, the
``LDL`` sentinel, null keys, non-VL lab tests, raw entrypoint
variants and null vaccine types.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# (patients, facilities) per dataset kind; VLS, HTS and COVID scale
# with the patient count (2x, 1x, 0.5x)
SIZES = {"idr": (12_500, 100), "events": (6_000, 48)}

FIRST_SITE = 10_000
AS_OF = "2024-06-01"

MMD_COLS = [
    "DOB", "Gender", "weight", "height", "CCC", "PatientPK", "NationalID",
    "AgeEnrollment", "AgeARTStart", "AgeLastVisit", "SiteCode",
    "FacilityName", "RegistrationDate", "PatientSource",
    "PreviousARTStartDate", "StartARTAtThisFAcility", "StartARTDate",
    "PreviousARTUse", "PreviousARTPurpose", "PreviousARTRegimen",
    "DateLastUsed", "StartRegimen", "StartRegimenLine", "LastARTDate",
    "LastRegimen", "LastRegimenLine", "ExpectedReturn", "LastVisit",
    "Duration", "ExitDate", "ExitReason", "Date_Created",
    "Date_Last_Modified",
]

ENTRYPOINTS = [
    "CCC (comprehensive care center)", "CCC", "OPD (outpatient department)",
    "Out Patient Department(OPD)", "VCT center", "VCT",
    "Home based HIV testing program", "In Patient Department(IPD)",
    "INPATIENT CARE OR HOSPITALIZATION", "PMTCT ANC", "PMTCT MAT",
    "PMTCT Program", "PMTCT PNC", "OTHER NON-CODED", "mobile VCT program",
    "Tuberculosis treatment program", "OB/GYN department",
    "Walk-in kiosk", "Outreach camp",
]
REGIMEN_LINES = ["First line", "Second line", "Third line", "Some odd line"]
REGIMENS = ["TDF/3TC/DTG", "TDF/3TC/EFV", "AZT/3TC/NVP", "ABC/3TC/LPV/r"]
VACCINES = ["AstraZeneca", "Moderna", "Pfizer", "Sinopharm", "Johnson"]
VAX_STATUS = ["Fully Vaccinated", "Partially Vaccinated", "Not Vaccinated"]
_EPOCH = dt.date(2000, 1, 1)


def _dates(rng, n, lo, hi):
    """ISO date strings uniform in [lo, hi]."""
    a = (dt.date.fromisoformat(lo) - _EPOCH).days
    b = (dt.date.fromisoformat(hi) - _EPOCH).days
    days = rng.integers(a, b + 1, n)
    return _iso(days)


def _iso(days):
    base = np.datetime64("2000-01-01")
    return np.datetime_as_string(base + days.astype("timedelta64[D]"), unit="D")


def _none(rng, values, p):
    """Replace a share ``p`` of ``values`` with the literal "None"."""
    out = np.asarray(values, dtype=object)
    out[rng.random(len(out)) < p] = "None"
    return out


def _null(rng, values, p):
    out = np.asarray(values, dtype=object)
    out[rng.random(len(out)) < p] = None
    return out


def _fmt(values, fmt):
    return np.array([fmt % v for v in values], dtype=object)


def _write(table_dict, path):
    os.makedirs(path, exist_ok=True)
    table = pa.table(table_dict)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _facilities(kind):
    return np.arange(FIRST_SITE, FIRST_SITE + SIZES[kind][1])


def mfl_sites(kind):
    """Facility codes present in the MFL dimension: every 50th
    facility is missing, so its rows drop at the inner MFL joins."""
    sites = _facilities(kind)
    return sites[(sites - FIRST_SITE) % 50 != 7]


def hub_sites(kind):
    """Facility codes present in the hub dimension: MFL sites minus
    every 50th (a second inner-join drop, MMD only)."""
    sites = mfl_sites(kind)
    return sites[(sites - FIRST_SITE) % 50 != 23]


def event_sites():
    """Facilities whose MMD delivery reaches the warehouse (present in
    both dimensions), in the order the event workload cycles them."""
    return hub_sites("events")


def _dims(rng, kind, out):
    sites = mfl_sites(kind)
    n = len(sites)
    _write(
        {
            "SiteCode": pa.array(sites, pa.int64()),
            "officialname": _fmt(sites, "Facility %d"),
            "county_name": _fmt(rng.integers(0, 47, n), "County %d"),
            "constituency_name": _fmt(rng.integers(0, 290, n), "Constituency %d"),
            "sub_county_name": _fmt(rng.integers(0, 300, n), "Sub %d"),
            "ward_name": _fmt(rng.integers(0, 1450, n), "Ward %d"),
            "lat": np.round(rng.uniform(-4.5, 4.5, n), 4),
            "long": np.round(rng.uniform(34.0, 41.5, n), 4),
        },
        os.path.join(out, "mfl_codes.parquet"),
    )
    hubs = hub_sites(kind)
    _write(
        {
            "MFL_Code": pa.array(hubs, pa.int64()),
            "Hub": _fmt(rng.integers(0, 40, len(hubs)), "Hub %d"),
        },
        os.path.join(out, "hub_details.parquet"),
    )


def _patients(rng, kind):
    """Patient -> (site, ccc). CCC numbers are unique per patient
    except for a 1% share that reuses the ccc of a patient at another
    facility (the cross-site collisions the VLS join-back fans out)."""
    n = SIZES[kind][0]
    site = rng.choice(_facilities(kind), n)
    ccc = _fmt(np.arange(n), "CCC%07d")
    clash = np.flatnonzero(rng.random(n) < 0.01)
    donors = rng.integers(0, n, len(clash))
    keep = site[clash] != site[donors]
    ccc[clash[keep]] = ccc[donors[keep]]
    return site, ccc


def _mmd(rng, site, ccc):
    """All-string ART extract: one row per patient, 8% entity
    duplicates (same SiteCode, CCC, different values) and 0.5% exact
    duplicate rows; "None" stands for every null."""
    n = len(site)
    ent = np.flatnonzero(rng.random(n) < 0.08)
    idx = np.concatenate([np.arange(n), ent])
    m = len(idx)
    start = rng.integers((dt.date(2010, 1, 1) - _EPOCH).days,
                         (dt.date(2023, 6, 1) - _EPOCH).days, m)
    last_art = start + rng.integers(30, 3000, m)
    last_art = np.minimum(last_art, (dt.date(2024, 5, 31) - _EPOCH).days)
    # ExpectedReturn spreads CurrentDays on both sides of 31
    expected = last_art + rng.integers(14, 180, m)
    cols = {
        "DOB": _dates(rng, m, "1950-01-01", "2015-12-31"),
        "Gender": rng.choice(["Male", "Female"], m).astype(object),
        "weight": _fmt(np.round(rng.uniform(8, 110, m), 1), "%.1f"),
        "height": _none(rng, _fmt(np.round(rng.uniform(60, 195, m), 1), "%.1f"), 0.05),
        "CCC": _none(rng, ccc[idx], 0.002),
        "PatientPK": _fmt(idx + 1_000_000, "%d"),
        "NationalID": _none(rng, _fmt(rng.integers(1e7, 4e7, m), "%d"), 0.2),
        "AgeEnrollment": _fmt(np.round(rng.uniform(0, 80, m), 1), "%.1f"),
        "AgeARTStart": _fmt(np.round(rng.uniform(0, 80, m), 1), "%.1f"),
        "AgeLastVisit": _fmt(np.round(rng.uniform(0, 90, m), 1), "%.1f"),
        "SiteCode": _fmt(site[idx], "%d"),
        "FacilityName": _fmt(site[idx], "Facility %d (raw)"),
        "RegistrationDate": _iso(start - rng.integers(0, 60, m)),
        "PatientSource": rng.choice(["Transfer In", "OPD", "VCT", "MCH"], m).astype(object),
        "PreviousARTStartDate": _none(rng, _iso(start - 400), 0.7),
        "StartARTAtThisFAcility": _iso(start),
        "StartARTDate": _iso(start),
        "PreviousARTUse": rng.choice(["Yes", "No"], m).astype(object),
        "PreviousARTPurpose": _none(rng, rng.choice(["PMTCT", "PEP", "HAART"], m), 0.6),
        "PreviousARTRegimen": _none(rng, rng.choice(REGIMENS, m), 0.6),
        "DateLastUsed": _none(rng, _iso(start - 30), 0.7),
        "StartRegimen": rng.choice(REGIMENS, m).astype(object),
        "StartRegimenLine": _none(rng, rng.choice(REGIMEN_LINES, m, p=[0.7, 0.2, 0.05, 0.05]), 0.02),
        "LastARTDate": _iso(last_art),
        "LastRegimen": rng.choice(REGIMENS, m).astype(object),
        "LastRegimenLine": _none(rng, rng.choice(REGIMEN_LINES, m, p=[0.6, 0.3, 0.05, 0.05]), 0.02),
        "ExpectedReturn": _iso(expected),
        "LastVisit": _iso(last_art),
        "Duration": _fmt(rng.choice([30.0, 60.0, 90.0, 180.0], m), "%.1f"),
        "ExitDate": _none(rng, _iso(last_art + 200), 0.9),
        "ExitReason": _none(rng, rng.choice(["Died", "LTFU", "Transfer Out"], m), 0.85),
    }
    # timestamps as "YYYY-MM-DD hh:mm:ss" strings
    for c, days in (("Date_Created", start), ("Date_Last_Modified", last_art)):
        secs = rng.integers(0, 86_400, m)
        cols[c] = np.array(
            [f"{d} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
             for d, s in zip(_iso(days), secs)],
            dtype=object,
        )
    exact = np.flatnonzero(rng.random(m) < 0.005)
    order = np.concatenate([np.arange(m), exact])
    rng.shuffle(order)
    return {c: pa.array(np.asarray(cols[c], dtype=object)[order], pa.string())
            for c in MMD_COLS}


def _vls(rng, site, ccc):
    """Viral-load results: ~2 per patient, 3% result-date ties, the
    LDL sentinel, null keys, and a 5% share of non-VL lab tests."""
    n = 2 * len(site)
    pat = rng.integers(0, len(site), n)
    received = rng.integers((dt.date(2021, 1, 1) - _EPOCH).days,
                            (dt.date(2024, 5, 31) - _EPOCH).days, n)
    tie = np.flatnonzero(rng.random(n) < 0.03)
    tie_src = rng.integers(0, n, len(tie))
    pat[tie] = pat[tie_src]
    received[tie] = received[tie_src]
    loads = rng.choice([20, 150, 400, 900, 999, 1000, 1500, 40_000, 250_000], n)
    result = _fmt(loads, "%d")
    result[rng.random(n) < 0.25] = "LDL"
    result = _null(rng, result, 0.02)
    mfl = pa.array(np.where(rng.random(n) < 0.01, -1, site[pat]), pa.int64())
    mfl = pc.if_else(pc.equal(mfl, -1), pa.scalar(None, pa.int64()), mfl)
    lab = np.where(rng.random(n) < 0.05, "CD4", "VIRAL LOAD").astype(object)
    lab_result = np.where(lab == "CD4", _fmt(np.round(rng.uniform(1, 900, n), 1), "%.1f"), result)
    cols = {
        "Mfl_code": mfl,
        "ccc_number": pa.array(_null(rng, ccc[pat], 0.01), pa.string()),
        "Gender": rng.choice(["Male", "Female"], n).astype(object),
        "DOB": _dates(rng, n, "1950-01-01", "2015-12-31"),
        "ageInYears": pa.array(rng.integers(0, 90, n), pa.int64()),
        "date_test_requested": _iso(received - rng.integers(1, 30, n)),
        "date_test_result_received": _iso(received),
        "lab_test": lab,
        "urgency": rng.choice(["Routine", "Urgent"], n).astype(object),
        "order_reason": rng.choice(["Annual", "Baseline", "Confirmation"], n).astype(object),
        "test_result": pa.array(lab_result, pa.string()),
    }
    return _with_exact_dups(rng, cols, 0.01)


def _hts(rng, kind):
    """HIV tests: raw entrypoint variants (known, unknown, null),
    Positive/Negative results, linkage spread over same day, <2 weeks,
    >2 weeks, clerical error (ART before test) and not linked."""
    n = SIZES[kind][0]
    site = rng.choice(_facilities(kind), n)
    tested = rng.integers((dt.date(2022, 1, 1) - _EPOCH).days,
                          (dt.date(2024, 5, 1) - _EPOCH).days, n)
    link = rng.choice([0, 3, 10, 40, -5], n, p=[0.3, 0.2, 0.2, 0.2, 0.1])
    art = _null(rng, _iso(tested + link), 0.3)
    final = rng.choice(["Positive", "Negative", "Inconclusive"], n, p=[0.3, 0.65, 0.05])
    cols = {
        "SiteCode": _fmt(site, "%d"),
        "CccNumber": _fmt(rng.integers(0, 10**7, n), "C%07d"),
        "PatientId": _fmt(np.arange(n), "P%06d"),
        "DOB": _dates(rng, n, "1950-01-01", "2015-12-31"),
        "Gender": rng.choice(["Male", "Female"], n).astype(object),
        "ageInYears": pa.array(rng.integers(0, 90, n), pa.int64()),
        "EntryPoint": pa.array(_null(rng, rng.choice(ENTRYPOINTS, n), 0.05), pa.string()),
        "Consent": rng.choice(["Yes", "No"], n).astype(object),
        "ClientTestedAs": rng.choice(["Individual", "Couple"], n).astype(object),
        "TestStrategy": rng.choice(["HP", "NP", "VI"], n).astype(object),
        "TestResult1": rng.choice(["Positive", "Negative"], n).astype(object),
        "TestResult2": rng.choice(["Positive", "Negative", "None"], n).astype(object),
        "FinalTestResult": final.astype(object),
        "TestDate": _iso(tested),
        "PatientGivenResult": rng.choice(["Yes", "No"], n).astype(object),
        "FacilityLinked": _fmt(rng.integers(0, 400, n), "Facility %d"),
        "art_start_date": pa.array(art, pa.string()),
        "EverTestedForHiv": rng.choice(["Yes", "No"], n).astype(object),
        "MonthsSinceLastTest": _fmt(rng.integers(0, 48, n), "%d"),
        "TbScreening": rng.choice(["Negative", "Presumed TB"], n).astype(object),
        "ClientSelfTested": rng.choice(["Yes", "No"], n).astype(object),
        "CoupleDiscordant": rng.choice(["Yes", "No"], n).astype(object),
        "TestType": rng.choice(["Initial", "Repeat"], n).astype(object),
    }
    return _with_exact_dups(rng, cols, 0.01)


def _covid(rng, site, ccc):
    """COVID vaccination records with null vaccine types, booster
    reclassification, and sites outside the MFL."""
    n = len(site) // 2
    pat = rng.choice(len(site), n, replace=False)
    cols = {
        "MFL_code": _fmt(site[pat], "%d"),
        "Facilty_Name": _fmt(site[pat], "Facility %d (raw)"),
        "ccc_number": ccc[pat],
        "phone_number": _fmt(rng.integers(7e8, 8e8, n), "0%d"),
        "id_number": _fmt(rng.integers(1e7, 4e7, n), "%d"),
        "DOB": _dates(rng, n, "1950-01-01", "2010-12-31"),
        "ageInYears": pa.array(rng.integers(12, 90, n), pa.int64()),
        "Gender": rng.choice(["Male", "Female"], n).astype(object),
        "visit_date": _dates(rng, n, "2021-03-01", "2024-05-31"),
        "Ever_Vaccinated": rng.choice(["Yes", "No"], n).astype(object),
        "First_Vaccine": pa.array(_null(rng, rng.choice(VACCINES, n), 0.15), pa.string()),
        "First_Vaccination_Verified": rng.choice(["Yes", "No"], n).astype(object),
        "first_dose_date": _dates(rng, n, "2021-03-01", "2022-06-30"),
        "Second_Vaccine": pa.array(_null(rng, rng.choice(VACCINES, n), 0.35), pa.string()),
        "Second_Vaccination_Verified": rng.choice(["Yes", "No"], n).astype(object),
        "second_dose_date": _dates(rng, n, "2021-06-01", "2022-12-31"),
        "Final_Vaccination_Status": rng.choice(VAX_STATUS, n, p=[0.5, 0.3, 0.2]).astype(object),
        "Ever_recieved_Booster": rng.choice(["Yes", "No"], n).astype(object),
        "Booster_Vaccine": pa.array(_null(rng, rng.choice(VACCINES, n), 0.6), pa.string()),
    }
    return _with_exact_dups(rng, cols, 0.01)


def _with_exact_dups(rng, cols, share):
    n = len(next(iter(cols.values())))
    order = np.concatenate([np.arange(n), np.flatnonzero(rng.random(n) < share)])
    rng.shuffle(order)
    return {c: (v.take(pa.array(order)) if isinstance(v, pa.Array)
                else pa.array(np.asarray(v, dtype=object)[order]))
            for c, v in cols.items()}


def _deliveries(mmd, out):
    """One MMD delivery per facility, split from the staging extract
    by SiteCode — the per-facility upload the event workload lands."""
    table = pa.table(mmd)
    codes = np.asarray(table.column("SiteCode").to_pylist())
    for s in event_sites():
        part = table.filter(pa.array(codes == str(s)))
        path = os.path.join(out, "deliveries", f"site={s}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(part, os.path.join(path, "part-0.parquet"))


def _build(kind, seed, out):
    # one independent stream per table, so changing one generator
    # never shifts the others' values
    streams = np.random.SeedSequence(seed).spawn(6)
    rngs = [np.random.default_rng(s) for s in streams]
    _dims(rngs[0], kind, out)
    site, ccc = _patients(rngs[1], kind)
    mmd = _mmd(rngs[2], site, ccc)
    _write(mmd, os.path.join(out, "mmd_staging.parquet"))
    if kind == "events":
        _deliveries(mmd, out)
        return
    _write(_vls(rngs[3], site, ccc), os.path.join(out, "vls_staging.parquet"))
    _write(_hts(rngs[4], kind), os.path.join(out, "hts_staging.parquet"))
    _write(_covid(rngs[5], site, ccc), os.path.join(out, "covid_staging.parquet"))


def inputs(kind: str, seed: int, cache_root: str) -> str:
    """Directory holding the ``kind`` ("idr" or "events") inputs for
    ``seed``, generated on first use and cached afterwards."""
    path = os.path.join(cache_root, f"{kind}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _build(kind, seed, tmp)
    os.replace(tmp, path)
    return path


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
