"""String / date / misc scalar helpers (F14-F19, SURVEY.md §2.8).

All native Column expressions; each mirrors a scattered string operation in
the reference (quote stripping :191-193, double-space collapse :702, case
mapping :354/:293, bytes decode :271 etc., system-URL concat :387).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_quotes(col: Column) -> Column:
    """F14 — replace('"','') on code-table rows (cnics_to_fhir.py:191-193)."""
    return F.regexp_replace(col, '"', "")


def collapse_double_spaces(col: Column) -> Column:
    """F14 — one non-overlapping replace('  ',' ') pass (cnics_to_fhir.py:702)."""
    return F.regexp_replace(col, "  ", " ")


def lower_site(col: Column) -> Column:
    """F15 — .lower() on site names for identifier systems (:354, :387)."""
    return F.lower(col)


def decode_utf8(col: Column) -> Column:
    """F16 — bytes→str for BinaryType ids (cnics_to_fhir.py:271, :556, :652)."""
    return F.decode(col, "UTF-8")


def identifier_system(base: str, site: Column) -> Column:
    """F19 — system-URL concatenation, e.g.
    'https://cnics.cirg.washington.edu/site-patient-id/' + site.lower()
    (cnics_to_fhir.py:387, :393, :623, :706, :891)."""
    return F.concat(F.lit(base), F.lower(site))
