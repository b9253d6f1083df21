"""Scalar column functions (SURVEY.md §2.7, F1-F10).

Each reproduces a parsing/normalization semantic of the reference as a
JVM-side Column expression (whole-stage-codegen'd — no Python in the hot
path). Reference citations are to
/root/reference/pipeline/apache_airflow/unilever_scraping_pipeline/nodes/level_1/scrap_tokopedia.py
(abbreviated SCRAPER).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_rupiah(c: Column) -> Column:
    """F2 — ``"Rp12.345" -> 12345``: strip the currency prefix and the
    thousands separators, cast to long (SCRAPER:256,258 does two literal
    ``str.replace`` calls then ``int``). Whitespace-tolerant like the
    reference (``int`` trims); malformed input yields NULL instead of
    raising — required-field enforcement happens in the quarantine split,
    not here."""
    return F.replace(F.replace(F.trim(c), F.lit("Rp"), F.lit("")),
                     F.lit("."), F.lit("")).try_cast("long")


def parse_percent(c: Column) -> Column:
    """F3 — ``"5%" -> 0.05``: strip the percent sign, divide by 100
    (SCRAPER:262). NULL on malformed input."""
    return F.replace(F.trim(c), F.lit("%"), F.lit("")).try_cast("double") / 100.0


def scrape_date() -> Column:
    """F4 — the run's scrape date. The reference computes this once at
    module import (SCRAPER:23) which splits across forked workers; we use
    the query-constant ``current_date()`` (SURVEY.md §7.4)."""
    return F.current_date()


def page_url(base: Column, page: Column) -> Column:
    """F8 — catalog URL constructor: page 1 is the bare catalog, page>1
    appends ``/page/{p}`` (SCRAPER:301)."""
    return F.when(page == 1, base).otherwise(
        F.concat(base, F.lit("/page/"), page.cast("string")))


def product_url(link: Column) -> Column:
    """F8 — product URL from a card href (SCRAPER:327-328 shape)."""
    return F.concat(F.lit("https://www.tokopedia.com/"), link)
