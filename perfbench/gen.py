"""Seeded input generator for the sync workloads.

``cnics_tables`` derives every table ``job.site_plan`` reads from the star
corpus in ``perfbench/data/<sf>`` (a copy of the engine's read-only test
corpus, ``TESTDATA.md``), the way the e2e catalog verticals derive theirs:
customer -> Patient and Demographic, even orders -> Diagnosis, odd orders
-> Medication, sampled lineitems -> Lab, plus the PRO tables, the uw-only
Crosswalk and the StandardDiagnoses code table. The seed draws everything
the corpus does not fix: the site of each patient, the demographics, the
lab sample and the PRO sessions. ``churn`` turns one such set into the
"next day" version.

Everything is read and written as parquet with pyarrow; nothing here
starts Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITES = ("cwru", "fenway", "jh", "miami", "uab", "ucsd", "ucsf", "unc", "uw", "vanderbilt")

_DX_TYPE = (
    "Verified clinical diagnosis",
    "Data collected at CNICS site",
    "Patient reported without supporting outside documentation",
    "Reported in outside documentation",
    "Source unknown",
)
_DX_NAME = ("E11.9", "250.00", "V02.61", "COPD", "chronic cough, unspecified", "J44.1", "Hypertension")
_MED_NAME = ("TENOFOVIR", "EFAVIRENZ", "LAMIVUDINE", "DOLUTEGRAVIR", "METFORMIN", "ATORVASTATIN")
_RACE = ("White", "Black", "Asian", "American Indian", "Pacific Islander", "Multiracial", "Other", None)
_HISPANIC = ("Yes", "No", None)
_SEX = ("Female", "Male", None)
# the five lab value[x] shapes of the e2e02 vertical: int, decimal,
# comparator, range, string
_LAB_SHAPES = (
    ("Hemoglobin A1C", "42", None, "1.0", None),
    ("Hemoglobin A1C", "5.7", "mg/dL", "3.5", "7.5"),
    ("HIV viral load", "<4.5", None, "neg", "10"),
    ("CD4 count", "3-9", "g/L", None, None),
    ("HCV antibody", "positive", None, None, None),
)
STANDARD_DIAGNOSES = ("COPD", "Hypertension", "Diabetes Mellitus Type 2")

_UTC = dt.timezone.utc
_EPOCH = dt.datetime(1995, 1, 1, tzinfo=_UTC)
# the star tables the CNICS tables are derived from
STAR_TABLES = ("customer", "orders", "lineitem")


def _binary(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k}".encode() for k in keys], type=pa.binary())


def _days_to_date(days: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    base = (_EPOCH - dt.datetime(1970, 1, 1, tzinfo=_UTC)).days
    return pa.array((days + base).astype("int32"), mask=mask).cast(pa.date32())


def cnics_tables(seed: int, star_dir: str, lab_share: float = 0.15) -> dict[str, pa.Table]:
    """CNICS-shaped source tables derived from the star corpus in
    ``star_dir`` (sf0.01 gives 1,500 patients), patients dealt over the ten
    deployment ``SITES`` by customer key, so a site's patients and their
    orders do not depend on the seed; a seeded ``lab_share`` sample of the
    lineitems become lab rows."""
    star = {n: pq.read_table(os.path.join(star_dir, f"{n}.parquet")) for n in STAR_TABLES}
    rng = np.random.default_rng([seed, 2])
    cust = star["customer"]
    pid = cust["c_custkey"].to_numpy()
    n_pat = len(pid)
    site = np.array(SITES)[pid % len(SITES)]

    orders = star["orders"]
    okey = orders["o_orderkey"].to_numpy()
    ocust = orders["o_custkey"].to_numpy()
    odays = (orders["o_orderdate"].to_numpy().astype("datetime64[D]") - np.datetime64("1995-01-01")).astype("int64")
    dx_m, med_m = okey % 2 == 0, okey % 2 == 1

    li = star["lineitem"]
    keep = np.zeros(len(li), dtype=bool)
    keep[rng.choice(len(li), int(round(len(li) * lab_share)), replace=False)] = True
    lab_order = li["l_orderkey"].to_numpy()[keep]
    lab_id = np.flatnonzero(keep).astype("int64")
    shape = lab_id % len(_LAB_SHAPES)

    demo_extra = rng.random(n_pat) < 0.2
    demo_pid = np.concatenate([pid, pid[demo_extra]])
    n_demo = len(demo_pid)

    sess_m = rng.random(n_pat) < 0.3
    sess_pid = np.repeat(pid[sess_m], 2)
    sess_id = np.array([f"s-{p}-{j}" for p, j in zip(sess_pid, np.tile([0, 1], sess_m.sum()))])
    cw_m = (site == "uw") & (rng.random(n_pat) < 0.5)

    t: dict[str, pa.Table] = {}
    t["Patient"] = pa.table(
        {"PatientId": pid, "SitePatientId": _binary("sp-", pid), "Site": site}
    )
    t["Demographic"] = pa.table(
        {
            "DemographicId": np.arange(n_demo, dtype="int64"),
            "filler1": pa.nulls(n_demo, pa.string()),
            "filler2": pa.nulls(n_demo, pa.string()),
            "PatientId": demo_pid,
            "filler4": pa.nulls(n_demo, pa.string()),
            "filler5": pa.nulls(n_demo, pa.string()),
            "Sex": pa.array([_SEX[i] for i in rng.integers(0, 3, n_demo)], pa.string()),
            "Race": pa.array([_RACE[i] for i in rng.integers(0, len(_RACE), n_demo)], pa.string()),
            "Hispanic": pa.array([_HISPANIC[i] for i in rng.integers(0, 3, n_demo)], pa.string()),
        }
    )
    k = okey[dx_m]
    t["Diagnosis"] = pa.table(
        {
            "DiagnosisId": k,
            "filler1": pa.nulls(len(k), pa.string()),
            "Historical": pa.array(np.where(k % 7 == 0, "Yes", None), pa.string()),
            "PatientId": ocust[dx_m],
            "SiteRecordId": _binary("dx-", k),
            "DiagnosisDate": _days_to_date(odays[dx_m]),
            "DiagnosisType": np.array(_DX_TYPE)[k % 5],
            "DiagnosisName": np.array(_DX_NAME)[(k // 2) % len(_DX_NAME)],
        }
    )
    k = okey[med_m]
    no_end = k % 3 != 0
    t["Medication"] = pa.table(
        {
            "MedicationId": k,
            "filler1": pa.nulls(len(k), pa.string()),
            "Historical": pa.array(np.where(k % 11 == 0, "Yes", None), pa.string()),
            "PatientId": ocust[med_m],
            "SiteRecordId": _binary("med-", k),
            "MedicationName": np.array(_MED_NAME)[(k // 2) % len(_MED_NAME)],
            **{f"filler{i}": pa.nulls(len(k), pa.string()) for i in range(6, 12)},
            "StartDate": _days_to_date(odays[med_m]),
            "EndDate": _days_to_date(odays[med_m] + 90, mask=no_end),
            "EndType": pa.array(np.where(no_end, None, "Completed"), pa.string()),
        }
    )
    t["Lab"] = pa.table(
        {
            "LabId": lab_id,
            "filler1": pa.nulls(len(lab_id), pa.string()),
            "Historical": pa.array(np.where(lab_id % 13 == 0, "Yes", None), pa.string()),
            "PatientId": ocust[lab_order],
            "SiteRecordId": [f"lab-{i}" for i in lab_id],
            "TestName": [_LAB_SHAPES[s][0] for s in shape],
            "Result": [_LAB_SHAPES[s][1] for s in shape],
            "Units": pa.array([_LAB_SHAPES[s][2] for s in shape], pa.string()),
            "filler8": pa.nulls(len(lab_id), pa.string()),
            "CollectionDate": li["l_shipdate"].filter(pa.array(keep)),
            "RefRangeLow": pa.array([_LAB_SHAPES[s][3] for s in shape], pa.string()),
            "RefRangeHigh": pa.array([_LAB_SHAPES[s][4] for s in shape], pa.string()),
        }
    )
    t["Pro"] = pa.table({"SessionId": sess_id, "PatientId": sess_pid})
    pro_pid = 1_000_000 + pid[sess_m]
    t["ProPatients"] = pa.table({"PatientID": pro_pid, "MRN": [f"mrn-{p}" for p in pid[sess_m]]})
    t["ProSessions"] = pa.table({"SessionID": sess_id, "PatientID": np.repeat(pro_pid, 2)})
    t["Crosswalk"] = pa.table(
        {
            "SitePatientId": [f"sp-{p}" for p in pid[cw_m]],
            "hmrn": [f"h{p}" for p in pid[cw_m]],
            "umrn": pa.array([f"u{p}" if p % 2 else None for p in pid[cw_m]], pa.string()),
        }
    )
    t["StandardDiagnoses"] = pa.table({"code": list(STANDARD_DIAGNOSES)})
    return t


# source column whose change alters the assembled resource, per record table
_CHANGE_COL = {"Diagnosis": "DiagnosisName", "Medication": "MedicationName", "Lab": "Result"}
_KEY_PREFIX = {"Diagnosis": "dx-", "Medication": "med-"}


def churn(
    seed: int,
    tables: dict[str, pa.Table],
    removed: float = 0.05,
    added: float = 0.05,
    changed: float = 0.10,
) -> dict[str, pa.Table]:
    """The "next day" source: per record table (Patient, Diagnosis,
    Medication, Lab) drop ``removed`` of the rows, append ``added`` new rows
    with fresh keys, and change the content of ``changed`` of the survivors.
    Patients change through their demographic rows (Race)."""
    rng = np.random.default_rng([seed, 3])
    out = dict(tables)
    pat = tables["Patient"]
    pids = pat["PatientId"].to_numpy()
    keep = rng.random(len(pat)) >= removed
    n_new = int(round(len(pat) * added))
    new_pid = pids.max() + 1 + np.arange(n_new)
    sites = np.unique(pat["Site"].to_numpy(zero_copy_only=False))
    new_site = sites[rng.integers(0, len(sites), n_new)]
    out["Patient"] = pa.concat_tables(
        [
            pat.filter(pa.array(keep)),
            pa.table(
                {"PatientId": new_pid, "SitePatientId": _binary("sp-", new_pid), "Site": new_site},
                schema=pat.schema,
            ),
        ]
    )
    demo = tables["Demographic"]
    d_pid = demo["PatientId"].to_numpy()
    changed_pat = pids[rng.random(len(pids)) < changed]
    race = demo["Race"].to_pylist()
    for i in np.flatnonzero(np.isin(d_pid, changed_pat)):
        race[i] = "Other" if race[i] != "Other" else "White"
    new_demo = pa.table(
        {
            "DemographicId": demo["DemographicId"].to_numpy().max() + 1 + np.arange(n_new),
            "filler1": pa.nulls(n_new, pa.string()),
            "filler2": pa.nulls(n_new, pa.string()),
            "PatientId": new_pid,
            "filler4": pa.nulls(n_new, pa.string()),
            "filler5": pa.nulls(n_new, pa.string()),
            "Sex": pa.array(["Female"] * n_new, pa.string()),
            "Race": pa.array(["Black"] * n_new, pa.string()),
            "Hispanic": pa.array(["No"] * n_new, pa.string()),
        },
        schema=demo.schema,
    )
    out["Demographic"] = pa.concat_tables(
        [demo.set_column(demo.schema.get_field_index("Race"), "Race", pa.array(race, pa.string())), new_demo]
    )
    live = out["Patient"]["PatientId"].to_numpy()
    for name, col in _CHANGE_COL.items():
        tab = tables[name]
        n = len(tab)
        survive = rng.random(n) >= removed
        tab = tab.filter(pa.array(survive))
        vals = tab[col].to_pylist()
        for i in np.flatnonzero(rng.random(len(tab)) < changed):
            vals[i] = f"{vals[i]}*" if name == "Lab" else f"{vals[i]} (revised)"
        tab = tab.set_column(tab.schema.get_field_index(col), col, pa.array(vals, pa.string()))
        n_add = int(round(n * added))
        donor = tab.take(pa.array(rng.integers(0, len(tab), n_add)))
        id_col = tab.schema.names[0]
        new_ids = tables[name][id_col].to_numpy().max() + 1 + np.arange(n_add)
        donor = donor.set_column(0, id_col, pa.array(new_ids, pa.int64()))
        donor = donor.set_column(
            donor.schema.get_field_index("PatientId"), "PatientId",
            pa.array(live[rng.integers(0, len(live), n_add)], pa.int64()),
        )
        rid = donor.schema.get_field_index("SiteRecordId")
        if name == "Lab":
            donor = donor.set_column(rid, "SiteRecordId", pa.array([f"lab-n{i}" for i in new_ids]))
        else:
            donor = donor.set_column(rid, "SiteRecordId", _binary(_KEY_PREFIX[name] + "n", new_ids))
        out[name] = pa.concat_tables([tab, donor])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One ``<name>.parquet`` file per table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
