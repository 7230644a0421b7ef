"""SAP ABAP Data Dictionary (DDIC) type handling (SURVEY.md §1.2).

The reference receives every column as delimited text and applies only two
transformations: whole-frame trim and a best-effort int cast for DDIC code
``'N'`` (/root/reference/pyrfc_read_table/pyrfc_read_table.py:169,172-174).
Here every public DDIC code gets a proper Spark type via error-free ``try_*``
casts, so malformed values become NULL instead of failing the job (the
"errors='ignore'" spirit, but per-value instead of pandas' per-column
all-or-nothing — documented divergence, the per-column behavior throws away
type information for a whole page on one bad value).

All casts are built-in Catalyst expressions — no UDFs, whole-stage codegen
keeps this JVM-side at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# SAP "initial" date — maps to NULL (public SAP semantics).
INITIAL_DATE = "00000000"


def ddic_cast(raw: Column, type_code: str, *, decimal_scale: int = 3) -> Column:
    """Cast a trimmed string field to the Spark type for a DDIC code.

    Reference behavior for the codes it touches is cited in the module
    docstring; the remaining codes follow the public DDIC documentation.
    """
    c = F.trim(raw)
    if type_code == "N":  # zero-padded numeric text
        return (c).try_cast("bigint")
    if type_code == "D":  # YYYYMMDD, '00000000' = initial -> NULL
        return F.try_to_date(F.nullif(c, F.lit(INITIAL_DATE)), "yyyyMMdd")
    if type_code == "T":  # HHMMSS -> seconds since midnight (keeps it numeric)
        return (
            F.substring(c, 1, 2).try_cast("int") * 3600
            + F.substring(c, 3, 2).try_cast("int") * 60
            + F.substring(c, 5, 2).try_cast("int")
        )
    if type_code == "P":  # packed BCD decimal (arrives as decimal text)
        return (c).try_cast(f"decimal(38,{decimal_scale})")
    if type_code == "F":
        return (c).try_cast("double")
    if type_code in ("I", "s", "b"):
        return (c).try_cast("int")
    if type_code in ("X", "y"):  # raw bytes, hex-encoded on the wire
        return F.unhex(c)
    # C (fixed char), g (variable string), and anything unknown: trimmed string
    return c
