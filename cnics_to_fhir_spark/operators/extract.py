"""Extract layer — the reference's six query shapes, decorrelated.

The reference runs 6 correlated queries PER PATIENT (cnics_to_fhir.py:
339-351) — the N+1 nested-loop join SURVEY.md §2.3 J3 identifies as the
biggest restructuring win. Here each shape is ONE bulk DataFrame with the
same WHERE semantics (P3-P7), and per-patient correlation becomes a join
against the (bounded) patient page, which Catalyst broadcasts.

Filter strings: settings.ini splices raw SQL fragments into the generated
queries (e.g. ``DiagnosisName in ('COPD', ...) or DiagnosisName like
'E11.%'`` — settings.ini:34-48, spliced at cnics_to_fhir.py:123). The
engine accepts the same boolean-SQL text via ``F.expr`` — identical
semantics, but parsed by Catalyst and pushed down to the source instead of
string-spliced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def not_historical(col: Column) -> Column:
    """P4 — (Historical <> 'Yes' OR Historical IS NULL), 3-valued
    (cnics_to_fhir.py:121, :138, :154)."""
    return (col != "Yes") | col.isNull()


def nonblank(col: Column) -> Column:
    """P5 — length(name) > 0 (cnics_to_fhir.py:122, :139, :155)."""
    return F.length(col) > 0


def patient_page(
    patient: DataFrame,
    demographic: DataFrame,
    site: str,
    limit: int = 100_000,
    randomize: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Entry point 2 (cnics_to_fhir.py:259-266): Patient ⋈ DemographicAltered
    with a Site filter and LIMIT PatCnt. The disabled ``order by rand()``
    (:264) is exposed as ``randomize`` with a seed. Returns the distinct
    patient identity page (PatientId, SitePatientId, Site)."""
    base = (
        patient.filter(F.col("Site") == site)
        .join(demographic.select("PatientId"), "PatientId", "left_semi")
        .select("PatientId", F.decode("SitePatientId", "UTF-8").alias("SitePatientId"), "Site")
    )
    if randomize:
        base = base.orderBy(F.rand(seed))
    return base.limit(limit)


def diagnoses(dx: DataFrame, patient_id_filter: Column | None = None, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 1 (cnics_to_fhir.py:115-123): Historical + length +
    config IN/LIKE filters; bulk, not per-patient."""
    out = dx.filter(not_historical(F.col("Historical")) & nonblank(F.col("DiagnosisName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    if patient_id_filter is not None:
        out = out.filter(patient_id_filter)
    return out


def demographics_first_row(demo: DataFrame) -> DataFrame:
    """A3 (cnics_to_fhir.py:440-525): first demographic row per patient wins,
    ordered by DemographicId (:130) — window + row_number, one shuffle."""
    w = Window.partitionBy("PatientId").orderBy("DemographicId")
    return (
        demo.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def medications_extract(med: DataFrame, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 3 (cnics_to_fhir.py:132-140)."""
    out = med.filter(not_historical(F.col("Historical")) & nonblank(F.col("MedicationName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    return out


def pro_sessions(pro: DataFrame) -> DataFrame:
    """Query shape 4 (cnics_to_fhir.py:141-147): distinct SessionId per
    patient, aggregated to array for the identifier builder (the
    decorrelated form of the per-session append loop :392-395)."""
    return (
        pro.select("PatientId", "SessionId")
        .distinct()
        .groupBy("PatientId")
        .agg(F.sort_array(F.collect_list("SessionId")).alias("session_ids"))
    )


def labs_extract(lab: DataFrame, name_filter_sql: str | None = None) -> DataFrame:
    """Query shape 5 (cnics_to_fhir.py:148-156)."""
    out = lab.filter(not_historical(F.col("Historical")) & nonblank(F.col("TestName")))
    if name_filter_sql:
        out = out.filter(F.expr(name_filter_sql))
    return out


def pro_identity(pro_patients: DataFrame, pro_sessions_df: DataFrame, session_keys: DataFrame) -> DataFrame:
    """J2/A2 (cnics_to_fhir.py:48-56, :410-435): PRO-DB Patients ⋈ Sessions
    for the patient's sessions → unique PatientIDs and MRNs as arrays.

    ``session_keys``: (PatientId, SessionId) pairs linking CNICS patients to
    PRO sessions. Output: (PatientId, pro_patient_ids, pro_mrns)."""
    joined = (
        session_keys.join(
            pro_sessions_df.withColumnRenamed("PatientID", "ProPatientID"),
            session_keys["SessionId"] == pro_sessions_df["SessionID"],
            "inner",
        )
        .join(
            pro_patients.withColumnRenamed("PatientID", "ProPatientID2"),
            F.col("ProPatientID") == F.col("ProPatientID2"),
            "inner",
        )
        .select("PatientId", F.col("ProPatientID").alias("pro_pid"), "MRN")
    )
    return joined.groupBy("PatientId").agg(
        F.sort_array(F.collect_set(F.col("pro_pid").cast("string"))).alias("pro_patient_ids"),
        F.sort_array(F.collect_set("MRN")).alias("pro_mrns"),
    )
