"""HTML table extraction: the structured-data mining pass of a webtext
pipeline (price lists, rankings, specs — the cells a text extractor
flattens into mush). Pure Catalyst regexp/HOF expressions after the
caller's decode — no Python, no shuffle; every row of output is a
(url, table_idx, row_idx) cell list.

Reference scope: the reference library stops at record IO; this is the
payload-understanding tier above it (same layer as operators/links.py,
which owns anchors/metas/feeds/JSON-LD).

Caps discipline (same rationale as links.MAX_LINKS_PER_PAGE): a
scraped-table farm or a 100k-row data dump must not explode the Generate
— tables/rows/cells are sliced BEFORE their posexplode, so the output is
bounded per page and the plan's memory per input row is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-page explosion caps
MAX_TABLES_PER_PAGE = 20
MAX_ROWS_PER_TABLE = 200
MAX_CELLS_PER_ROW = 64

_TABLE_RX = r"(?is)<table(?:\s[^>]*)?>(.*?)</table>"
_TR_RX = r"(?is)<tr(?:\s[^>]*)?>(.*?)</tr>"
_CELL_RX = r"(?is)<t[dh](?:\s[^>]*)?>(.*?)</t[dh]>"
_TAG_RX = r"(?s)<[^>]*>"


def extract_tables(pages: DataFrame, url_col: str = "page_url",
                   text_col: str = "text",
                   max_tables: int = MAX_TABLES_PER_PAGE,
                   max_rows: int = MAX_ROWS_PER_TABLE,
                   max_cells: int = MAX_CELLS_PER_ROW) -> DataFrame:
    """One output row per <tr>: (url, table_idx, row_idx, n_cells,
    cells) — ``cells`` is the row's <td>/<th> inner texts with nested
    markup stripped and whitespace trimmed, in document order; indexes
    are 0-based within the page/table. Non-greedy block matching (the
    crawl-corpus convention for regex-tier HTML: nested tables close at
    the first </table>, exactly like the reference-ecosystem WAT
    extractors treat nested markup).

    Scale shape: three staged regexp_extract_all columns with slice caps
    applied BEFORE each posexplode, then a transform/trim over the cell
    array — one codegen span, zero shuffles, output bounded by
    max_tables*max_rows rows per page."""
    tables = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.slice(
                F.regexp_extract_all(F.col(text_col), F.lit(_TABLE_RX), F.lit(1)),
                1, max_tables,
            )
        ).alias("table_idx", "_tbl"),
    )
    rows = tables.select(
        "url", "table_idx",
        F.posexplode(
            F.slice(
                F.regexp_extract_all(F.col("_tbl"), F.lit(_TR_RX), F.lit(1)),
                1, max_rows,
            )
        ).alias("row_idx", "_row"),
    )
    cells = F.transform(
        F.slice(
            F.regexp_extract_all(F.col("_row"), F.lit(_CELL_RX), F.lit(1)),
            1, max_cells,
        ),
        lambda c: F.trim(F.regexp_replace(c, _TAG_RX, "")),
    )
    return rows.select(
        "url", "table_idx", "row_idx",
        F.size(cells).alias("n_cells"),
        cells.alias("cells"),
    )


def table_shapes(pages: DataFrame, url_col: str = "page_url",
                 text_col: str = "text") -> DataFrame:
    """Per-table shape census: (url, table_idx, n_rows, n_cols, ragged) —
    ``n_cols`` is the first row's cell count, ``ragged`` whether any row
    disagrees. The cheap pre-filter before downstream table understanding
    (a 2x2 layout grid and a 500-row data table need different handling).
    One groupBy on (url, table_idx) over extract_tables' bounded output."""
    t = extract_tables(pages, url_col, text_col)
    return (
        t.groupBy("url", "table_idx")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.when(F.col("row_idx") == 0, F.col("n_cells"))).alias("n_cols"),
            (F.count_distinct(F.col("n_cells")) > 1).alias("ragged"),
        )
    )


#: heading / code-block caps (same rationale as the table caps)
MAX_HEADINGS_PER_PAGE = 100
MAX_CODE_BLOCKS_PER_PAGE = 50

_HEADING_RX = r"(?is)<h([1-6])(?:\s[^>]*)?>(.*?)</h[1-6]>"
_PRE_RX = r"(?is)<pre(?:\s[^>]*)?>(.*?)</pre>"


def extract_headings(pages: DataFrame, url_col: str = "page_url",
                     text_col: str = "text",
                     max_headings: int = MAX_HEADINGS_PER_PAGE) -> DataFrame:
    """Document outline: one row per ``<h1>``–``<h6>`` in document order —
    (url, pos, level, heading) with nested markup stripped and whitespace
    trimmed. The skeleton a section-aware chunker or TOC builder keys on
    (chunk_documents splits flat text; this recovers the boundaries the
    author declared).

    Scale shape: ONE regexp_extract_all over the page (level and body
    captured together, re-split after the capped posexplode), pure
    codegen, zero shuffles, ≤ max_headings rows per page."""
    # capture level+body in one pass: extract group 0 (whole tag), then
    # re-parse level and inner text from the exploded element
    whole = F.regexp_extract_all(F.col(text_col), F.lit(_HEADING_RX), F.lit(0))
    rows = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(F.slice(whole, 1, max_headings)).alias("pos", "_h"),
    )
    return rows.select(
        "url", "pos",
        F.regexp_extract(F.col("_h"), _HEADING_RX, 1).cast("int").alias("level"),
        F.trim(
            F.regexp_replace(
                F.regexp_extract(F.col("_h"), _HEADING_RX, 2), _TAG_RX, "")
        ).alias("heading"),
    )


def extract_code_blocks(pages: DataFrame, url_col: str = "page_url",
                        text_col: str = "text",
                        max_blocks: int = MAX_CODE_BLOCKS_PER_PAGE) -> DataFrame:
    """Code-corpus mining: one row per ``<pre>`` block — (url, pos, code,
    n_lines, n_chars). Inner ``<code>``/markup tags are stripped but the
    TEXT (incl. newlines/indentation) is preserved verbatim — code is
    whitespace-significant, so unlike cells/headings there is NO trim or
    whitespace collapse beyond the markup strip. ``<code>`` spans outside
    ``<pre>`` are inline mentions, not blocks, and are deliberately not
    emitted (the pretraining-code convention).

    Scale shape: one regexp_extract_all + capped posexplode + per-row
    expressions; pure codegen, zero shuffles."""
    blocks = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(
            F.slice(
                F.regexp_extract_all(F.col(text_col), F.lit(_PRE_RX), F.lit(1)),
                1, max_blocks,
            )
        ).alias("pos", "_b"),
    )
    code = F.regexp_replace(F.col("_b"), _TAG_RX, "")
    return blocks.select(
        "url", "pos", code.alias("code"),
        (F.size(F.split(code, "\n", -1))).alias("n_lines"),
        F.length(code).alias("n_chars"),
    )
