"""The property-listings cleaning chain — full parity with the reference's
``clean_and_transform_data`` (reference: transform.py:62-116), re-expressed
as one lazy chain of native Column expressions.

Execution model: after the first-wins dedup (the only shuffle, an
exchange on ``link, file_name``), every normalized or derived value — the
NBSP fix of each column, the parsed price and size, the region split of
the address, the price per m² — is a column of a projection, computed
once per row, and F1–F6 read those columns as ONE predicate.  The
predicate deliberately sits inside the generator that emits the silver
row (``inline`` of a one-row array when it holds, of NULL when it does
not), not in a ``Filter``: Catalyst pushes a ``Filter`` down through
every projection and inlines the expressions it reads, so six chained
filters turned 6 input columns into 42 ``regexp_replace`` and 7 address
splits per row.  A generator is a barrier that rule does not cross.
All derived work stays after the dedup exchange, where it runs on every
shuffle partition — a day-file is one scan split.

Documented divergences from pandas quirks (SURVEY.md §7 "hard parts"):
- digit-extract yields NULL on zero-digit input (reference throws).
- dedup keeps the first row of each ``(link, file_name)`` by a
  caller-supplied order (pandas keeps the first in file order; Spark has
  no implicit row order).  The streaming entry points pass the file order
  itself, ``(file_block_start, monotonically_increasing_id())``, so they
  keep the reference's copy (``streaming/file_pipeline.py``); the default
  order ``link`` leaves the choice among copies to the engine.  A batch
  over several files dedups each file on its own, as the reference does
  when it runs once per file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hof import bind
from ..functions.numeric import guarded_ratio_int, lenient_int
from ..functions.text import (
    basename,
    digits_only,
    join_all_but_last_two,
    join_last_two,
    nbsp_to_space,
    split_words,
    strip_diacritics,
)
from ..schemas import CZECH_REGIONS, PROPERTIES_CLEAN

#: rent/sale purpose keyword lists, transcribed verbatim from the reference
#: (transform.py:44-60; the reference re-declares the same lists mid-function
#: at transform.py:73-74 — declared once here). tests/test_reference_fidelity.py
#: pins these against the reference text itself so they can never silently
#: drift again (round-2 verdict items 1-2).
RENT_KEYWORDS = [
    "Pronajem kancelare",
    "Pronajem nebytoveho prostoru",
    "Pronajem chaty, chalupy",
    "Pronajem domu",
    "Pronajem pozemku",
]
SALE_KEYWORDS = [
    "Prodej bytu",
    "Prodej domu",
    "Prodej nebytoveho prostoru",
    "Prodej pozemku",
    "Prodej chaty, chalupy",
    "Prodej garaze",
    "Prodej kancelare",
]


def dedup_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """D1 — deterministic first-wins dedup (transform.py:62).

    ``dropDuplicates`` keeps an arbitrary row; a row_number window makes
    "first" explicit. At scale this is one hash exchange on ``keys`` —
    identical cost to dropDuplicates — and skew on a hot key is handled by
    AQE. Keys with NULLs group together (pandas semantics).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def region_split(address: Column | str = "address") -> Column:
    """C10–C12 — ``struct(region, address)`` (transform.py:85-95): an
    address that mentions 'kraj' ends in its region, its last two words,
    and keeps the words before them; any other address is in 'Praha' and
    stays whole.  The word array is bound once per row, so both halves
    read one split."""
    a = F.col(address) if isinstance(address, str) else address
    return F.when(
        F.lower(a).contains("kraj"),
        bind(
            split_words(a),
            lambda w: F.struct(
                join_last_two(w).alias("region"),
                join_all_but_last_two(w).alias("address"),
            ),
        ),
    ).otherwise(F.struct(F.lit("Praha").alias("region"), a.alias("address")))


def region_expr(address: Column | str = "address") -> Column:
    """C11 — region from address: last two words when the address mentions
    'kraj', else 'Praha' (transform.py:90)."""
    return region_split(address)["region"]


def address_without_region_expr(address: Column | str = "address") -> Column:
    """C12 — strip the region suffix from addresses that carry one
    (transform.py:91)."""
    return region_split(address)["address"]


def clean_properties(
    df: DataFrame,
    dedup_order: list[str] | None = None,
    file_name_col: Column | None = None,
    dump_ts: Column | None = None,
) -> DataFrame:
    """Full bronze -> silver clean (transform.py:62-116), same operator
    order, one logical plan; each value is computed once per row (see the
    module docstring).

    ``file_name_col`` defaults to the scan's file metadata (the reference
    back-computes it from the S3 key, transform.py:112); ``dump_ts`` defaults
    to ``current_timestamp()`` — inject a literal for deterministic tests.
    D1 keeps, of the rows sharing ``(link, file_name)``, the first by
    ``dedup_order``.
    """
    dedup_order = dedup_order or ["link"]
    rent_rx = "|".join(RENT_KEYWORDS)
    sale_rx = "|".join(SALE_KEYWORDS)

    # P3/C15 — capture scan-time lineage BEFORE any shuffle:
    # input_file_name() is only defined on the scan partition, and the
    # dedup below introduces an exchange.
    out = df.withColumn(
        "file_name",
        file_name_col if file_name_col is not None else basename(F.input_file_name()),
    )
    # D1 — scoped to the source file: the reference dedups one file at a
    # time (transform.py:62), and a listing may legitimately reappear in
    # the next day's file
    out = dedup_first(out, ["link", "file_name"], dedup_order)

    out = (
        out.select(  # C2 global NBSP fix across all string columns (transform.py:63)
            *[nbsp_to_space(c).alias(c) for c in
              ("purpose", "address", "size_m2", "design", "price_czk", "link")],
            "file_name",
        )
        # F1 reads the fixed price text, before C3+C4 replace it
        .withColumn("_eur", F.coalesce(F.col("price_czk").contains("EUR"), F.lit(False)))
        .withColumn(
            "price_czk",
            digits_only(F.replace(F.col("price_czk"), F.lit("Kc"), F.lit(""))),  # C3+C4
        )
        .withColumn(
            "size_m2",
            lenient_int(F.replace(F.col("size_m2"), F.lit("m2"), F.lit(""))),  # C3+C5+C6
        )
        .withColumn("_region", region_split("address"))  # C10-C12
        .withColumn("region", F.col("_region.region"))
        .withColumn("address", F.col("_region.address"))
        .withColumn("price_per_m2", guarded_ratio_int("price_czk", "size_m2"))  # C7-C9
        .withColumn("dump_date", dump_ts if dump_ts is not None else F.current_timestamp())  # P3/C14
    )
    purpose, price, ppm = F.col("purpose"), F.col("price_czk"), F.col("price_per_m2")
    keep = (
        ~F.col("_eur")  # F1
        & (price >= 500)  # F2
        # F3, F4: the price bound first, so most rows skip the regex
        & ~((price <= 1000) & purpose.rlike(rent_rx))  # F3
        & ~((price <= 20000) & purpose.rlike(sale_rx))  # F4
        & F.col("region").isin(CZECH_REGIONS)  # F5
        & (~(purpose.contains("Prodej pozemku") & (ppm > 80000)) | ppm.isNull())  # F6 outlier
    )
    # P2 final projection in the reference's exact order (transform.py:
    # 115-116): one silver row where ``keep`` holds, none where it is false
    # or NULL — a Filter here would be pushed down and inlined
    silver = F.struct(*PROPERTIES_CLEAN.fieldNames())
    return out.select(F.inline(F.when(keep, F.array(silver))))


def scraped_rows_to_bronze(df: DataFrame) -> DataFrame:
    """P1+C1+C13 — apply trim + transliteration to freshly scraped rows
    (extract.py:24-35,44-45)."""
    return df.select(
        *[F.trim(strip_diacritics(F.col(c))).alias(c) for c in df.columns]
    )
