"""Text/string column expressions (SURVEY.md §2.8 string family)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ETH_ADDRESS_RE = r"^0x[a-fA-F0-9]{40}$"


def is_eth_address(col: Column | str) -> Column:
    """P10: ETH address format predicate (`validate.py:142-146`)."""
    col = F.col(col) if isinstance(col, str) else col
    return col.rlike(ETH_ADDRESS_RE)


def shorten_address(col: Column | str, head: int = 6, tail: int = 4) -> Column:
    """Display shortening `0x1234…abcd` (`generate_visualizations.py:
    244,253` slices head/tail of the address string)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.concat(
        F.substring(col, 1, head),
        F.lit("..."),
        col.substr(F.length(col) - tail + 1, F.lit(tail)),
    )


def normalize_whitespace(col: str) -> Column:
    """Lowercase + collapse whitespace + trim: the text normalization
    every dedup, tokenizer and text-scoring path shares (the DuckDB
    oracles spell it ``trim(regexp_replace(lower(text), '\\s+', ' ',
    'g'))``). Built as one ``F.expr`` string over the column name: one
    py4j call where the Column-call chain paid one per function, with
    the same analyzed plan."""
    return F.expr(_normalized_sql(col))


def split_words(col: str) -> Column:
    """Whitespace words of the normalized text (``normalize_whitespace``
    then split on ' '); one ``F.expr`` string, same plan as the
    Column-call chain."""
    return F.expr(f"split({_normalized_sql(col)}, ' ')")


def _normalized_sql(col: str) -> str:
    name = col.replace("`", "``")
    return f"trim(regexp_replace(lower(`{name}`), '\\\\s+', ' '))"
